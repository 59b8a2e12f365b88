package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Distributed PCA over the embedding corpus — the classic bounded-driver
 * pattern: the CORPUS pass computes first and second moments as ONE
 * hash aggregation over d(d+3)/2 keys (map-side combined, exact
 * order-free DECIMAL sums — the same determinism discipline as
 * `IvfIndex.train`), the d×d eigenproblem is driver math (cyclic Jacobi,
 * deterministic; d² doubles of state), and projection back over the
 * corpus is a narrow broadcast-literal expression. Nothing driver-side
 * ever scales with the corpus.
 *
 * Use cases in a training-data pipeline: embedding whitening/compression
 * before ANN (fewer dims, decorrelated), outlier scoring in component
 * space, and the variance-accounting data card ("the top 8 of 64
 * components explain X%").
 *
 * DECIMAL(38,28) second-moment sums: a float product is exact in double;
 * the per-row cast to DECIMAL rounds at 1e-28 deterministically, and
 * decimal addition is order-free — so the covariance (hence the model)
 * is bit-identical across partitionings. Ten integer digits headroom
 * bounds the row count at ~1e10 per aggregation before overflow; beyond
 * that, raise the integer digits or pre-aggregate per shard.
 */
object EmbeddingPca {

  case class Model(
      mean: Array[Double],
      eigenvalues: Array[Double],        // descending
      components: Array[Array[Double]],  // components(k)(i), orthonormal rows
      covTrace: Double)                  // trace of the fitted covariance

  /** Exact corpus moments: per-dim mean and upper-triangle second moments
    * E[x_i x_j] — one generator into one hash aggregation. */
  private def moments(corpus: DataFrame, d: Int): (Array[Double], Array[Array[Double]]) = {
    val e = col("embedding")
    val tri = flatten(transform(sequence(lit(0), lit(d - 1)), i =>
      transform(sequence(i, lit(d - 1)), j =>
        struct((i * lit(d) + j).as("ij"),
          (element_at(e, i + 1) * element_at(e, j + 1))
            .cast("double").as("p")))))
    val second = corpus
      .select(explode(tri).as("t"))
      .groupBy(col("t.ij").as("ij"))
      .agg(sum(col("t.p").cast("decimal(38,28)")).as("s"),
        count(lit(1)).as("n"))
      .collect()
    val firsts = corpus
      .select(posexplode(e).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(sum(col("x").cast("decimal(27,12)")).as("s"), count(lit(1)).as("n"))
      .collect()
    val mean = new Array[Double](d)
    firsts.foreach { r =>
      mean(r.getAs[Int]("dim")) =
        r.getAs[java.math.BigDecimal]("s").doubleValue() / r.getAs[Long]("n")
    }
    val m2 = Array.ofDim[Double](d, d)
    second.foreach { r =>
      val ij = r.getAs[Int]("ij")
      val (i, j) = (ij / d, ij % d)
      val v = r.getAs[java.math.BigDecimal]("s").doubleValue() / r.getAs[Long]("n")
      m2(i)(j) = v; m2(j)(i) = v
    }
    (mean, m2)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * deterministic (fixed sweep order, fixed convergence threshold).
    * Returns (eigenvalues, eigenvectors as ROWS), unsorted. */
  private[graft] def jacobiEigen(
      a0: Array[Array[Double]], maxSweeps: Int = 64): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < maxSweeps && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off = math.max(off, math.abs(apq))
          if (math.abs(apq) > 1e-18) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // tan of the rotation: sign(θ)/(|θ|+√(θ²+1)); θ=0 rotates 45°
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val evals = Array.tabulate(d)(i => a(i)(i))
    val rows = Array.tabulate(d, d)((k, i) => v(i)(k)) // column k -> row k
    (evals, rows)
  }

  /** Fit the PCA model: exact moments, driver Jacobi, components sorted
    * by descending eigenvalue (sign-canonicalized: largest-|coord| entry
    * positive, so the model is unique). */
  def fit(corpus: DataFrame, d: Int): Model = {
    val (mean, m2) = moments(corpus, d)
    val cov = Array.tabulate(d, d)((i, j) => m2(i)(j) - mean(i) * mean(j))
    val (evals, vecs) = jacobiEigen(cov)
    val order = evals.indices.sortBy(i => -evals(i))
    val comps = order.map { k =>
      val r = vecs(k)
      val m = r.indices.maxBy(i => math.abs(r(i)))
      if (r(m) < 0) r.map(-_) else r
    }.toArray
    Model(mean, order.map(evals(_)).toArray, comps,
      (0 until d).map(i => cov(i)(i)).sum)
  }

  /** Projection of each vector onto the top-k components — a narrow
    * broadcast-literal expression, no shuffle, no UDF. */
  def project(corpus: DataFrame, model: Model, k: Int): DataFrame = {
    val e = col("embedding")
    val coords = array((0 until k).map { c =>
      val v = model.components(c)
      val shift = v.indices.map(i => v(i) * model.mean(i)).sum
      (aggregate(
        zip_with(e, lit(v.map(_.toFloat)), (x, w) => x.cast("double") * w.cast("double")),
        lit(0.0), (acc, p) => acc + p) - lit(shift)).as(s"pc$c")
    }: _*)
    corpus.select(col("vec_id"), coords.as("coords"))
  }

  private[graft] val NComponents = 8

  /** One fitted model per (JVM, corpus dir) — fit once, consume from the
    * check query, the ANN tier, and the generated oracle SQL. */
  private val models = new graft.Memo[String, Model]

  def fitCached(spark: SparkSession, sfDir: String): Model =
    models(sfDir) {
      val corpus = Tables.load(spark, sfDir, "embeddings")
      val d = corpus.select(size(col("embedding"))).head.getInt(0)
      fit(corpus, d)
    }

  /** The one fitted model of this session, for oracle-SQL generation. */
  def cachedModel: Option[Model] = models.only

  /** Uncentered projection onto one float-rounded component — a left
    * fold in ascending dimension order, the exact double sequence the
    * oracle's `list_reduce(list_prepend(0.0, …))` replays. Centering is
    * deliberately dropped: the first-pass score is a DIFFERENCE of
    * projections, so the mean shift cancels. */
  private[graft] def rawCoord(e: Column, w: Array[Float]): Column =
    aggregate(
      zip_with(e, lit(w), (x, v) => x.cast("double") * v.cast("double")),
      lit(0.0), (acc, p) => acc + p)

  /**
   * OCCUPANCY-BOUND PCA two-stage ANN (the [[Similarity.mrlBucketedTopK]]
   * discipline with a learned first-pass subspace): candidates come from
   * the query's multi-probe LSH buckets, the 8-d PCA distance ranks only
   * those, the top `rPrefix` rerank at full dimension. Per-query cost
   * tracks bucket occupancy — decade-flat by [[Similarity.scaledPlanes]]'
   * construction — instead of the corpus fraction a full-corpus
   * projection pass pays.
   */
  def pcaBucketedTopK(corpus: DataFrame, queries: DataFrame, model: Model,
      planes: Int, probes: Int, rPrefix: Int,
      nComp: Int = NComponents, k: Int = 20, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comps = (0 until nComp).map(c => model.components(c).map(_.toFloat))
    def coords(e: Column): Column =
      array(comps.map(w => rawCoord(e, w)): _*)
    val hp = Similarity.hyperplanes(planes, 64, seed)
    // projections computed ONCE per corpus row / per probed query row,
    // BEFORE the join: pc depends only on the corpus vector and qpc only
    // on the query, so evaluating them per joined pair (a corpus vector
    // re-projects once per query whose buckets it lands in) is pure
    // redundant work — same arithmetic on the same values either way
    val cand = Similarity.bucketedCorpusDf(corpus, hp)
      .withColumn("pc", coords(col("embedding")))
      .join(broadcast(Similarity.probedQueryBuckets(queries, hp, probes)
          .withColumn("qpc", coords(col("query_vec")))),
        Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
    val dist = (0 until nComp).map { c =>
      val d = element_at(col("pc"), c + 1) - element_at(col("qpc"), c + 1)
      d * d
    }.reduce(_ + _) // left-assoc — the oracle sums in the same order
    val scored = cand.select(col("query_id"), col("vec_id"), col("embedding"),
      col("query_vec"), Similarity.q9(dist).as("pca_dist"))
    val wPre = Window.partitionBy("query_id")
      .orderBy(col("pca_dist").asc, col("vec_id").asc)
    val wFull = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("_pr", row_number().over(wPre))
      .filter(col("_pr") <= rPrefix)
      .select(col("query_id"), col("vec_id"), col("pca_dist"),
        Similarity.q9(graft.functions.VectorFunctions.cosine_sim(
          col("embedding"), col("query_vec"))).as("cosine"))
      .withColumn("rank", row_number().over(wFull).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Query-pack adapter: OCCUPANCY-BOUND 8-of-64-dim PCA first pass over
    * the query's multi-probe buckets (corpus-sized plane count shared
    * with the other bucketed tiers), [[Similarity.bucketedRerank]]
    * candidates, top-20. */
  def annPcaQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    // via annPlanes (not scaledPlanes directly) so the plane count lands
    // in the cachedAnnPlanes oracle cache no matter which tier runs first
    val p = Similarity.annPlanes(spark, sfDir)
    val probes = Similarity.scaledProbes(p)
    pcaBucketedTopK(emb, emb.filter(col("vec_id") < 5),
      fitCached(spark, sfDir), planes = p, probes = probes,
      rPrefix = Similarity.bucketedRerank(probes))
  }

  /** Driver-checkable PCA gate (the bound-boolean pattern of
    * `vocabApproxCheckQuery`/`AnnRecall`): for each of the top 8
    * components, the DISTRIBUTED variance of the corpus projected onto
    * that component must equal its eigenvalue (the defining property of
    * PCA), eigenvalues must be non-increasing, the component must be
    * orthonormal to its peers, and the eigenvalue total must preserve
    * the covariance trace. The oracle contributes the component keys and
    * TRUE literals — a silent eigen/moment regression flips the driver
    * hash. */
  def pcaCheckQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.load(spark, sfDir, "embeddings")
    val model = fitCached(spark, sfDir)

    // distributed projected variance per component, one corpus pass
    val proj = project(corpus, model, NComponents)
    val aggs = (0 until NComponents).flatMap { c =>
      val x = element_at(col("coords"), c + 1)
      Seq(sum(x * x).as(s"ss$c"), sum(x).as(s"s$c"))
    } :+ count(lit(1)).as("n")
    val row = proj.agg(aggs.head, aggs.tail: _*).head
    val n = row.getAs[Long]("n").toDouble

    // eigenvalue sum must preserve the covariance trace (rotation
    // invariance) — the cheapest whole-decomposition sanity there is
    val traceOk = math.abs(model.eigenvalues.sum - model.covTrace) <=
      1e-9 * math.max(1.0, math.abs(model.covTrace))

    val rows = (0 until NComponents).map { c =>
      val mu = row.getAs[Double](s"s$c") / n
      val variance = row.getAs[Double](s"ss$c") / n - mu * mu
      val lam = model.eigenvalues(c)
      val varOk = math.abs(variance - lam) <= math.max(1e-9, 1e-4 * math.abs(lam))
      val mono = c == 0 || model.eigenvalues(c - 1) >= model.eigenvalues(c) - 1e-12
      val ortho = {
        val self = math.abs(dot(model.components(c), model.components(c)) - 1.0) <= 1e-9
        val cross = (0 until c).forall(j =>
          math.abs(dot(model.components(c), model.components(j))) <= 1e-9)
        self && cross
      }
      (c.toLong + 1L, varOk, mono, ortho, traceOk)
    }
    import spark.implicits._
    rows.toDF("component", "var_matches_lambda", "monotone", "orthonormal",
      "trace_preserved")
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
}
