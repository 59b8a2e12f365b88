package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/**
 * DSIR-style data selection — "Data Selection for Language Models via
 * Importance Resampling" (Xie et al., NeurIPS 2023): fit hashed n-gram
 * bag-of-words models on a small TARGET corpus and on the RAW pool,
 * score every raw document with the log-likelihood ratio of its hashed
 * bigrams, and keep the documents that look most like the target. The
 * standard recipe for "give me the 5% of CommonCrawl that reads like
 * Wikipedia" — here the target is one `source` of the documents table.
 *
 * Two-phase shape, both phases corpus-linear:
 *
 *  - FIT ([[bucketCounts]] → [[fit]]): one pass counts bigram
 *    occurrences into `nBuckets` hashed feature buckets, split
 *    target/raw. Partial aggregation collapses each task to ≤ nBuckets
 *    rows before the one tiny shuffle (512 keys), so the fit's shuffle
 *    volume is independent of corpus size; the driver sees exactly
 *    nBuckets rows (a model-sized collect, the IvfIndex/PqIndex
 *    contract) and turns add-1-smoothed count ratios into per-bucket
 *    log-ratio weights λ.
 *
 *  - SCORE ([[score]]): λ ships back as a 512-long ARRAY LITERAL and a
 *    document's importance weight is an `aggregate` fold over its
 *    bigram buckets — a narrow, codegen'd, zero-shuffle pass (the
 *    HashedLinear margin shape, with learned weights). Selection is
 *    TakeOrdered top-k, never a global sort.
 *
 * Cross-engine determinism (the RankMetrics.dcgWeights discipline): λ
 * is computed ONCE on the driver with StrictMath.log, micro-quantized
 * to integers, and the SAME integers are consumed by the engine (array
 * literal) and the generated oracle SQL (BIGINT[] literal) — neither
 * engine evaluates a transcendental, and the per-document score is an
 * order-free integer sum. The data-dependent half of the fit (the
 * bucket count table) is oracle-verified EXACTLY by `q_dsir_weights`;
 * counts → λ is pure driver arithmetic, spec-pinned in DsirSpec.
 *
 * Bigrams are positional (occurrence counts, not per-doc distinct),
 * tokenized `\s+` over lowercased text with the corpus-wide whole-doc
 * fallback for sub-bigram texts, hashed with the 48-bit md5-prefix gram
 * hash (`TextAnalysis.gramHash48`) that DuckDB replays digit-by-digit.
 */
object Dsir {

  val DefaultBuckets = 512

  final case class Model(
      nBuckets: Int,
      targetSource: String,
      targetCounts: Array[Long],
      rawCounts: Array[Long],
      targetTotal: Long,
      rawTotal: Long,
      lambdaMicro: Array[Long])

  /** floor(x·10⁶ + 0.5) — the repo-wide half-up micro quantizer. */
  private def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong

  /** λ[b] = ln((ct+1)/(Nt+B)) − ln((cr+1)/(Nr+B)), micro-quantized.
    * Driver-only math (StrictMath for bit-stable replay); both engines
    * consume the resulting integers as literals. */
  def lambdaMicro(tgt: Array[Long], raw: Array[Long],
      tgtTotal: Long, rawTotal: Long): Array[Long] = {
    val b = tgt.length
    Array.tabulate(b) { i =>
      micro(StrictMath.log((tgt(i) + 1.0) / (tgtTotal + b.toDouble)) -
        StrictMath.log((raw(i) + 1.0) / (rawTotal + b.toDouble)))
    }
  }

  /** Lowercased `\s+` tokens — the winnow/shingle tokenization. */
  private def tokens: Column = split(lower(col("text")), "\\s+")

  /** Positional bigram list with the whole-doc fallback for <2-token
    * texts (every document contributes ≥1 gram, so scoring needs no
    * re-join to cover short docs). Token array stays in its own
    * projection upstream (HOF re-evaluation trap — see winnow). */
  private def bigrams(tk: Column): Column =
    when(size(tk) >= 2,
      transform(sequence(lit(1), size(tk) - 1),
        i => array_join(slice(tk, i, lit(2)), " ")))
      .otherwise(array(array_join(tk, " ")))

  /** 48-bit md5-prefix gram hash → bucket in [0, nBuckets). */
  private def bucketOf(g: Column, nBuckets: Int): Column =
    conv(substring(md5(g), 1, 12), 16, 10).cast("long") % nBuckets

  /**
   * Per-bucket bigram occurrence counts, target vs raw — the fit's first
   * stage and the oracle-recomputable half of the model. Output:
   * (bucket, tgt_n, raw_n), only buckets with ≥1 occurrence.
   */
  def bucketCounts(docs: DataFrame, targetSource: String,
      nBuckets: Int = DefaultBuckets): DataFrame =
    docs
      .select(
        when(col("source") === targetSource, 1L).otherwise(0L).as("_is_t"),
        tokens.as("_tk"))
      .select(col("_is_t"), explode(bigrams(col("_tk"))).as("_g"))
      .select(col("_is_t"), bucketOf(col("_g"), nBuckets).as("bucket"))
      .groupBy("bucket")
      .agg(sum(col("_is_t")).as("tgt_n"),
        sum(lit(1L) - col("_is_t")).as("raw_n"))

  /** Fit the importance model: one counting pass, nBuckets-row collect,
    * driver λ. Deterministic, so caching is purely an optimization. */
  def fit(docs: DataFrame, targetSource: String,
      nBuckets: Int = DefaultBuckets): Model = {
    val tgt = new Array[Long](nBuckets)
    val raw = new Array[Long](nBuckets)
    bucketCounts(docs, targetSource, nBuckets).collect().foreach { r =>
      val b = r.getLong(0).toInt
      tgt(b) = r.getLong(1)
      raw(b) = r.getLong(2)
    }
    val (nt, nr) = (tgt.sum, raw.sum)
    Model(nBuckets, targetSource, tgt, raw, nt, nr,
      lambdaMicro(tgt, raw, nt, nr))
  }

  /** Importance weight per document: Σ λ[bucket(bigram)] as an integer
    * micro sum — one narrow codegen'd fold, zero shuffles. */
  def score(docs: DataFrame, model: Model): DataFrame = {
    val lam = lit(model.lambdaMicro)
    docs
      .select(col("doc_id"), col("source"), tokens.as("_tk"))
      .select(col("doc_id"), col("source"),
        transform(bigrams(col("_tk")),
          g => bucketOf(g, model.nBuckets)).as("_bk"))
      .select(col("doc_id"), col("source"),
        aggregate(col("_bk"), lit(0L),
          (acc, b) => acc + element_at(lam, (b + 1).cast("int")))
          .as("dsir_micro"))
  }

  /** Deterministic top-k selection (temperature-0 resampling) with the
    * full (weight desc, doc_id asc) tiebreak — TakeOrdered, no global
    * sort. The stochastic variant composes [[score]] with
    * `CorpusPipeline.weightedSample`. */
  def selectTopK(docs: DataFrame, model: Model, k: Int): DataFrame =
    score(docs, model)
      .orderBy(col("dsir_micro").desc, col("doc_id").asc)
      .limit(k)

  /** One fitted model per (JVM, corpus dir). */
  private val models = new graft.Memo[String, Model]

  val TargetSource = "src0"

  def fitCached(spark: SparkSession, sfDir: String): Model =
    models(sfDir)(fit(Tables.load(spark, sfDir, "documents"), TargetSource))

  /** The one fitted model of this session, for oracle-SQL generation. */
  def cachedModel: Option[Model] = models.only

  /** Query-pack adapter: the oracle-recomputable bucket count table. */
  def dsirWeightsQuery(spark: SparkSession, sfDir: String): DataFrame =
    bucketCounts(Tables.load(spark, sfDir, "documents"), TargetSource)

  /** Query-pack adapter: top-100 most target-like documents. */
  def dsirSelectQuery(spark: SparkSession, sfDir: String): DataFrame =
    selectTopK(Tables.load(spark, sfDir, "documents"),
      fitCached(spark, sfDir), k = 100)
}
