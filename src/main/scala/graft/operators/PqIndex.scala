package graft.operators

import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Product quantization (Jégou et al., "Product Quantization for Nearest
 * Neighbor Search", TPAMI'11) — the memory side of 100 TB ANN: each
 * L2-normalized vector is split into `m` subvectors, each subvector is
 * replaced by the id of its nearest codeword from a per-subspace codebook
 * (k codewords), so a dim-64 float vector (256 B) compresses to `m` small
 * codes (8 B at m=8) while remaining searchable.
 *
 * Search is ADC (asymmetric distance computation): the query stays exact;
 * per query a (m × k) lookup table of subspace dot products is computed
 * once, and every corpus vector's approximate score is just `m` table
 * lookups summed — no float vector is ever touched. The optional rerank
 * stage re-scores the top `r` candidates with the exact kernel, the
 * standard recall repair.
 *
 * Scale shape: codebooks are driver-side state (m × k × dim/m floats —
 * KILOBYTES) broadcast into plans as literals, exactly like IVF
 * centroids; training is Lloyd's over (sub, subvector) rows — one
 * groupBy shuffle of m × k × dim/m averages per iteration; encode is a
 * narrow codegen'd map; ADC scoring is a broadcast nested-loop over the
 * CODES (8 B/vector), so the scan side is ~32× lighter than brute force.
 */
object PqIndex {

  /** books(s)(j) = codeword j of subspace s (each of length dim/m). */
  final case class Codebooks(dim: Int, m: Int, books: Seq[Seq[Seq[Float]]]) {
    require(dim % m == 0, "m must divide dim")
    def k: Int = books.head.size
    def subDim: Int = dim / m
  }

  /** L2-normalize so dot ≡ cosine ranking (zero vectors stay zero).
    * Codegen'd kernel since round 19 ([[graft.functions.L2Normalize]]) —
    * the interpreted `transform` form re-evaluated the inlined Σx² dot
    * per element reference; AnnKernelsSpec pins bit-equality against
    * `ReferenceForms.normedReference` (test scope). */
  private[graft] def normed(vec: Column): Column =
    graft.functions.AnnKernelFunctions.l2_normalize(vec)

  /** 1-based slice of subspace `s`. */
  private[graft] def subCol(vec: Column, s: Int, subDim: Int): Column =
    slice(vec, s * subDim + 1, subDim)

  /** ½|c|² with the driver-side fold order fixed, so the SQL oracle can
    * emit the bit-identical constant. */
  private[graft] def halfSq(c: Seq[Float]): Double =
    c.map(x => x.toDouble * x).sum / 2.0

  /** argmin_j L2(x, c_j) as argmax_j (x·c_j − ½|c_j|²); ties → lowest j. */
  private[graft] def nearestCode(books: Seq[Seq[Float]], sub: Column): Column = {
    val scored = books.zipWithIndex.map { case (c, j) =>
      val half = halfSq(c)
      struct(
        (VectorFunctions.dot_product(sub, typedlit(c)) - lit(half)).as("score"),
        lit(j).as("code"))
    }
    element_at(
      array_sort(array(scored: _*), (a, b) =>
        when(a("score") > b("score"), -1)
          .when(a("score") < b("score"), 1)
          .otherwise(when(a("code") < b("code"), -1).otherwise(1))),
      1)("code")
  }

  /**
   * Train per-subspace codebooks with Lloyd's iterations over
   * (sub, subvector) rows. Deterministic BY CONSTRUCTION: subspace s seeds
   * from the first k vectors by id, and the update step sums each
   * dimension as DECIMAL (exact, order-free — a double `avg` depends on
   * partition order at the ulp, and these codewords are emitted as oracle
   * literals; same fix as [[IvfIndex.train]]). One m×k×subDim-row shuffle
   * per iteration.
   *
   * `normalize = false` trains on the embedding column AS GIVEN — the
   * residual-PQ path ([[IvfPqIndex]]): residuals x̂ − c are already the
   * quantity to encode, and re-normalizing them would destroy exactly the
   * magnitude information the residual carries.
   */
  def train(corpus: DataFrame, dim: Int = 64, m: Int = 8, k: Int = 16,
      iters: Int = 3, normalize: Boolean = true): Codebooks = {
    val subDim = dim / m
    val e = if (normalize) normed(col("embedding")) else col("embedding")
    val seeds = corpus.orderBy("vec_id").limit(k)
      .select(e.as("e")).collect()
      .map(_.getSeq[Float](0).toSeq)
    var books: Seq[Seq[Seq[Float]]] =
      (0 until m).map(s => seeds.toSeq.map(_.slice(s * subDim, (s + 1) * subDim)))

    val subRows = corpus.select(col("vec_id"), e.as("e"))
      .select(col("vec_id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"), subCol(col("e"), s, subDim).as("sv"))): _*)).as("x"))
      .select(col("x.sub").as("sub"), col("x.sv").as("sv"))

    (0 until iters).foreach { _ =>
      val codeCol = (0 until m).map(s =>
        when(col("sub") === s, nearestCode(books(s), col("sv")))
      ).reduce((a, b) => coalesce(a, b))
      val means = subRows
        .select(col("sub"), codeCol.as("code"), posexplode(col("sv")).as(Seq("d", "x")))
        .groupBy("sub", "code", "d")
        .agg(sum(col("x").cast("decimal(27,12)")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byKey = means.map(r => (r.getAs[Int]("sub"), r.getAs[Int]("code"),
        r.getAs[Int]("d")) ->
          (r.getAs[java.math.BigDecimal]("s").doubleValue() / r.getAs[Long]("n"))).toMap
      books = (0 until m).map { s =>
        (0 until books(s).size).map { j =>
          val updated = (0 until subDim).map(d => byKey.get((s, j, d)))
          if (updated.forall(_.isDefined)) updated.map(_.get.toFloat)
          else books(s)(j) // empty cluster keeps its codeword
        }
      }
    }
    Codebooks(dim, m, books)
  }

  /** (vec_id, codes) — `codes` is an array<int> of length m.
    *
    * The normalized vector is materialized in its OWN projection before
    * the m×k codeword scorings reference it: interpreted HOF lambdas
    * (transform has no codegen) re-evaluate inlined subexpressions per
    * reference, so inlining `normed` into 128 scorings re-ran the
    * norm per codeword — 12 s/pass at sf0.1 vs 0.6 s in this form
    * (same lesson as TextAnalysis.repetitionStats). */
  def encode(corpus: DataFrame, model: Codebooks): DataFrame =
    corpus.select(col("vec_id"), normed(col("embedding")).as("_e"))
      .select(col("vec_id"), codesColumn(model, col("_e")).as("codes"))

  /** Encode a `(vec_id, embedding)` frame whose vectors are ALREADY in
    * the model's space (normalized / rotated) — no re-normalization. */
  private[graft] def encodePrepared(vecs: DataFrame, model: Codebooks): DataFrame =
    vecs.select(col("vec_id"), codesColumn(model, col("embedding")).as("codes"))

  /** `array<int>` of per-subspace nearest-codeword ids for a NORMALIZED
    * vector column (shared with [[IvfPqIndex]]'s cell-partitioned encode).
    * Codegen'd kernel since round 19 ([[graft.functions.PqEncode]]): the
    * former form carried m×k `typedlit` codeword arrays plus an
    * interpreted `array_sort` comparator per subspace — both the per-row
    * exec cost AND the per-invocation analysis cost of the literal tree.
    * AnnKernelsSpec pins bit-equality against
    * `ReferenceForms.codesColumnReference` (test scope). */
  private[graft] def codesColumn(model: Codebooks, e: Column): Column =
    graft.functions.AnnKernelFunctions.pq_encode(e, model.books)

  /** (m × k) ADC lookup table for a NORMALIZED query column: entry (s, j)
    * is the query's subvector-s dot codeword j. Codegen'd kernel since
    * round 19 ([[graft.functions.AdcTables]]) — same literal-tree and
    * equivalence story as [[codesColumn]]. */
  private[graft] def adcTablesColumn(model: Codebooks, e: Column): Column =
    graft.functions.AnnKernelFunctions.adc_tables(e, model.books)

  /** ADC score of a codes array against a query's lookup tables — a left
    * fold so the add order is pinned (the SQL oracle replays it with
    * `list_reduce`). Codegen'd kernel since round 19
    * ([[graft.functions.AdcScore]] — the former `aggregate(zip_with(…))`
    * evaluated interpreted per (candidate × query) pair, the hottest
    * expression of the PQ/OPQ tiers); AnnKernelsSpec pins bit-equality
    * against `ReferenceForms.adcScoreReference` (test scope). */
  private[graft] def adcScore(codes: Column, tables: Column): Column =
    graft.functions.AnnKernelFunctions.adc_score(codes, tables)

  /**
   * ADC search over an encoded corpus: per query one (m × k) dot-product
   * table, per corpus vector m lookups — the float vectors never load.
   */
  def searchAdc(encoded: DataFrame, queries: DataFrame, model: Codebooks,
      k: Int): DataFrame = {
    val q = queries
      .select(col("vec_id").as("query_id"), normed(col("embedding")).as("_e"))
      .select(col("query_id"), adcTablesColumn(model, col("_e")).as("tables"))
    searchAdcPrepared(encoded, q, k)
  }

  /** ADC core over PREPARED lookup tables `(query_id, tables)` — the
    * seam [[OpqIndex]] feeds rotated-space tables through. */
  private[operators] def searchAdcPrepared(encoded: DataFrame,
      q: DataFrame, k: Int): DataFrame = {
    val scored = encoded.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        // quantized before ranking so the candidate cut is ulp-robust
        // cross-engine (see Similarity.q9)
        round(adcScore(col("codes"), col("tables")), 9).as("adc_score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /**
   * ADC + exact rerank: take the top `r` ADC candidates, re-score them
   * with the exact cosine kernel, keep the top `k`. Only r float vectors
   * per query are ever read — the standard recall repair at PQ memory cost.
   */
  def searchWithRerank(corpus: DataFrame, queries: DataFrame, model: Codebooks,
      k: Int, r: Int): DataFrame = {
    require(r >= k, "rerank pool must be at least k")
    val cands = searchAdc(encode(corpus, model), queries, model, r)
      .select(col("query_id"), col("vec_id"))
    rerankExact(cands, corpus, queries, k)
  }

  /** Exact-cosine rerank of `cands(query_id, vec_id)` against the RAW
    * embeddings, top-`k` — shared by the PQ and OPQ tiers (only r float
    * vectors per query are ever read). */
  private[operators] def rerankExact(cands: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
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

  /** Models memoized per corpus, like IVF: train once, search many. */
  private val models = new graft.Memo[String, Codebooks]

  /** The one model of this session, if any — lets graft.queries emit the PQ
    * oracle SQL from the exact codebooks the query used. */
  def cachedModel: Option[Codebooks] = models.only

  /** Query-pack adapter: PQ-compress the corpus, ADC-search the first 5
    * vectors with exact rerank. Training is deterministic given the seed
    * rows, so graft.queries replays encode + ADC tables in generated SQL from
    * [[cachedModel]] — a full hash oracle, not rows-only. */
  def pqQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val model = models(s"$sfDir#m=8#k=16")(train(emb, dim = 64, m = 8, k = 16, iters = 2))
    searchWithRerank(emb, emb.filter(col("vec_id") < 5), model, k = 10, r = 50)
  }
}
