package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * One-pass ridge-regression distillation of a quality signal into a
 * cheap linear scorer — the classifier-distillation pattern production
 * pipelines use (an expensive signal is computed once, a fast surface
 * model is fit to imitate it, and the CORPUS is scored with the fast
 * model). The target here is per-document lexical diversity
 * (type-token ratio in micro units — an exact integer both engines
 * derive identically); the features are four cheap surface counts plus
 * an intercept.
 *
 * The fit is the [[EmbeddingPca]] discipline, not an iterative solver:
 * ridge regression has CLOSED-FORM sufficient statistics, so ONE
 * map-side-combined aggregation collects the Gram matrix A = Σ x xᵀ and
 * moment vector b = Σ x·y as order-free DECIMAL(38,0) sums (k(k+3)/2 =
 * 20 cells — a bounded model artifact), and the k×k solve
 * (A + λI)β = b happens in DRIVER BigInt arithmetic via Cramer's rule —
 * exact rationals, no float round-off, bit-reproducible anywhere. λ = 1
 * makes A + λI strictly positive definite (A is a Gram matrix, so PSD),
 * which guarantees det > 0. Coefficients ship as micro-integer literals
 * (floor quantization), the [[Dsir]] λ-replay contract.
 *
 * Verification is structural, not take-my-word: since
 * β = (A+λI)⁻¹ b exactly and β_micro = ⌊10⁶ β⌋ componentwise, the
 * residual r = (A+λI)·β_micro − 10⁶·b must satisfy
 * −rowsum_i < r_i ≤ 0 (every entry of A is a sum of products of
 * NON-NEGATIVE features, so the quantization error δ ∈ [0,1)ᵏ is bounded
 * through the matrix by its row sums). The fit query emits the moments,
 * the residuals, and that boolean gate; the oracle RECOMPUTES A and b
 * from raw text in SQL, replays β_micro, and must land on the identical
 * residuals — so a hash match proves the distributed moment pass AND the
 * driver solve at once.
 *
 * 100 TB shape: the fit is one aggregation over the corpus (20 decimal
 * cells, map-side combined); scoring is a narrow, zero-shuffle integer
 * fold per document (no joins, no UDFs); top-k selection is
 * TakeOrdered. Nothing iterates over the corpus.
 */
object RidgeDistill {

  /** Micro-unit scale for target, coefficients, and scores. */
  val Micro = 1000000L

  /** Ridge strength (integer units of the Gram matrix). */
  val Lambda = 1L

  /** Feature count incl. the intercept. */
  val K = 5

  /** x0..x4: intercept, whitespace tokens, chars, sentence punctuation,
    * letters+spaces — the exact column expressions [[TextAnalysis]]'s
    * oracle-proven quality blend uses, kept integer. */
  def features(text: Column): Seq[Column] = Seq(
    lit(1L),
    size(TextAnalysis.whitespaceTokens(text)).cast("long"),
    length(text).cast("long"),
    regexp_count(text, lit("[.,;:!?]")).cast("long"),
    length(regexp_replace(text, "[^\\p{L} ]", "")).cast("long"))

  /** The distillation target: type-token ratio in micro units —
    * (distinct lowercase tokens * 10⁶) div tokens, exact integers.
    * The division is the subtract-remainder form so it stays exact in
    * pure column arithmetic (the numerator is ≤ ~2e10, far inside the
    * 2^53 window where the final exact division is lossless). */
  def target(text: Column): Column = {
    val tk = split(lower(text), "\\s+")
    val num = size(array_distinct(tk)).cast("long") * lit(Micro)
    val den = size(tk).cast("long")
    ((num - pmod(num, den)) / den).cast("long")
  }

  /** The fitted model: moments as exact integers plus the micro-quantized
    * coefficients. `a` is the full symmetric Gram matrix WITHOUT the
    * ridge term; `rowSum`/`resid` are the gate ingredients over A + λI. */
  final case class Model(
      a: Array[Array[BigInt]], b: Array[BigInt], betaMicro: Array[Long]) {
    def ridged(i: Int, j: Int): BigInt =
      if (i == j) a(i)(j) + Lambda else a(i)(j)
    def rowSum(i: Int): BigInt = (0 until K).map(ridged(i, _)).sum
    def resid(i: Int): BigInt =
      (0 until K).map(j => ridged(i, j) * BigInt(betaMicro(j))).sum -
        BigInt(Micro) * b(i)
    def gate(i: Int): Boolean = resid(i) <= 0 && resid(i) + rowSum(i) > 0
  }

  private val models = new graft.Memo[String, Model]

  /** The one fitted model of this session, for model-dependent oracles. */
  def cachedModel: Option[Model] = models.only

  private def det(m: Vector[Vector[BigInt]]): BigInt =
    if (m.size == 1) m(0)(0)
    else (0 until m.size).map { c =>
      val minor = m.tail.map(row =>
        row.zipWithIndex.collect { case (v, i) if i != c => v })
      val s = if (c % 2 == 0) BigInt(1) else BigInt(-1)
      s * m(0)(c) * det(minor)
    }.sum

  private def floorDiv(a: BigInt, b: BigInt): BigInt = {
    val q = a / b
    if (a % b != 0 && a.signum * b.signum < 0) q - 1 else q
  }

  /** One aggregation pass for the moments, then the exact driver solve. */
  def fit(docs: DataFrame): Model = {
    val xs = features(col("text"))
    val y = target(col("text"))
    val dec = DecimalType(38, 0)
    val aggs =
      (for (i <- 0 until K; j <- i until K)
        yield sum((xs(i) * xs(j)).cast(dec)).as(s"a_${i}_$j")) ++
      (0 until K).map(i => sum((xs(i) * y).cast(dec)).as(s"b_$i"))
    val row = docs.agg(aggs.head, aggs.tail: _*).head
    def cell(name: String): BigInt =
      BigInt(row.getAs[java.math.BigDecimal](name).toBigIntegerExact)
    val a = Array.tabulate(K, K)((i, j) =>
      cell(s"a_${math.min(i, j)}_${math.max(i, j)}"))
    val b = Array.tabulate(K)(i => cell(s"b_$i"))
    val m = Vector.tabulate(K, K)((i, j) =>
      if (i == j) a(i)(j) + Lambda else a(i)(j))
    val d = det(m)
    require(d > 0, s"ridged Gram matrix must be positive definite, det=$d")
    val beta = Array.tabulate(K) { i =>
      val mi = Vector.tabulate(K, K)((r, c) => if (c == i) b(r) else m(r)(c))
      val q = floorDiv(det(mi) * BigInt(Micro), d)
      require(q.isValidLong, s"beta_$i micro out of Long range: $q")
      q.toLong
    }
    Model(a, b, beta)
  }

  private def fitFor(spark: SparkSession, sfDir: String): Model =
    models(sfDir)(fit(Tables.load(spark, sfDir, "documents")))

  /** Query-pack adapter: per-coefficient moments, residual, and the
    * quantization-bound gate — the oracle recomputes A and b from raw
    * text and must land on identical residuals.
    *
    * The wide integers ship as STRINGS, not DECIMAL(38,0): the driver
    * harness reads the Spark parquet exactly (python Decimal → plain
    * digits) but materializes the DuckDB oracle through pandas where
    * DECIMAL/HUGEINT become float64 and stringify in scientific
    * notation past 9 significant digits — b is ~6e10 at sf0.01, so the
    * round-11 DECIMAL form hash-mismatched driver-side while matching
    * under the all-DuckDB local check. Digit strings canonicalize
    * identically on every read path and at any corpus size. */
  def ridgeFitQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val m = fitFor(spark, sfDir)
    val rows = (0 until K).map { i =>
      Row(i.toLong,
        m.a(i)(i).toString,
        m.b(i).toString,
        m.betaMicro(i),
        m.resid(i).toString,
        m.gate(i))
    }
    val schema = StructType(Seq(
      StructField("i", LongType),
      StructField("a_diag", StringType),
      StructField("b", StringType),
      StructField("beta_micro", LongType),
      StructField("resid", StringType),
      StructField("ok", BooleanType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Score a corpus with fitted micro coefficients: a narrow integer
    * fold, no shuffle until the TakeOrdered top-k. */
  def score(docs: DataFrame, betaMicro: Array[Long]): DataFrame = {
    val xs = features(col("text"))
    val s = (0 until K).map(i => xs(i) * lit(betaMicro(i)))
      .reduce(_ + _).as("score_micro")
    docs.select(col("doc_id"), s)
  }

  /** Query-pack adapter: top-100 documents under the distilled scorer. */
  def ridgeScoreQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val m = fitFor(spark, sfDir)
    score(Tables.load(spark, sfDir, "documents"), m.betaMicro)
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(100)
  }
}
