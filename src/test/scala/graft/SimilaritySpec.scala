package graft

import graft.functions.VectorFunctions
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("cosine_sim kernel: pinned values and bounds") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f), 1.0),
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(1f, 0f), Array(-1f, 0f), -1.0),
      (Array(0f, 0f), Array(1f, 1f), 0.0)   // zero-norm guard
    ).toDF("a", "b", "expected")
    df.select(VectorFunctions.cosine_sim(col("a"), col("b")).as("c"), col("expected"))
      .collect().foreach { r =>
        assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9)
      }
  }

  test("brute-force top-k: k rows per query, descending, self excluded, |cos|<=1") {
    val out = Similarity.bruteForceQuery(spark, sf001).collect()
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQuery.foreach { case (q, rows) =>
      assert(rows.length == 20)
      assert(!rows.exists(_.getAs[Long]("vec_id") == q))
      val cos = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.sameElements(cos.sortBy(-_)))
      assert(cos.forall(c => c <= 1.0 + 1e-9 && c >= -1.0 - 1e-9))
    }
  }

  test("multi-probe: probes=1 is exactly single-bucket LSH; more probes only add candidates") {
    val emb = graft.sources.Tables.load(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet

    // k beyond corpus size -> no top-k truncation, pure candidate membership
    val p1 = pairs(Similarity.multiProbeTopK(emb, queries, k = 100000, probes = 1))
    val lsh = pairs(Similarity.lshTopK(emb, queries, k = 100000))
    assert(p1 == lsh, "probes=1 must reduce to single-bucket LSH")

    val p4 = pairs(Similarity.multiProbeTopK(emb, queries, k = 100000, probes = 4))
    assert(p1.subsetOf(p4), "extra probes may only add candidates")
    assert(p4.size > p1.size, s"expected flips to surface new candidates (p1=${p1.size})")
  }

  test("multi-probe recall at k=20 is no worse than single-probe, cosines exact") {
    val exact = Similarity.bruteForceQuery(spark, sf001)
      .select("query_id", "vec_id", "cosine").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val truth = exact.map(_._1).toSet
    val exactCos = exact.toMap
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
      got.count(truth.contains).toDouble / truth.size
    }
    val emb = graft.sources.Tables.load(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val r1 = recall(Similarity.lshTopK(emb, queries, k = 20))
    val r4 = recall(Similarity.multiProbeTopK(emb, queries, k = 20, probes = 4))
    assert(r4 >= r1, s"multi-probe recall $r4 must be >= single-probe $r1")

    Similarity.multiProbeQuery(spark, sf001).collect().foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      exactCos.get(key).foreach(c =>
        assert(math.abs(c - r.getAs[Double]("cosine")) < 1e-9))
    }
  }

  test("filtered top-k: true top-k of the eligible subset, filter pushed to scan") {
    val emb = graft.sources.Tables.load(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val got = Similarity.filteredTopK(emb, queries,
      col("label") === col("query_label"), k = 10)
    // ground truth: per query, brute-force over its own label's subset
    val labels = queries.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    labels.foreach { case (qid, lbl) =>
      val want = Similarity.bruteForceTopK(
          emb.filter(col("label") === lbl), queries.filter(col("vec_id") === qid), k = 10)
        .select("vec_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      val gotQ = got.filter(col("query_id") === qid)
        .select("vec_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(gotQ == want, s"query $qid (label $lbl)")
      // every returned neighbor carries the query's label
      assert(emb.filter(col("vec_id").isin(gotQ.map(_._1).toSeq: _*))
        .select("label").collect().forall(_.getInt(0) == lbl))
    }
    // a corpus-only conjunct reaches the parquet scan as a pushed filter
    val pushed = Similarity.filteredTopK(emb, queries,
      col("label") === 3 && col("label") === col("query_label"), k = 10)
    val scans = pushed.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(scans.exists(s => s.contains("PushedFilters") && s.contains("label")
        && !s.contains("PushedFilters: []")),
      s"expected the label predicate pushed into a scan:\n${scans.mkString("\n")}")
  }

  test("hard negatives: top-k among different-label vectors only, matches brute force") {
    val emb = graft.sources.Tables.load(spark, sf001, "embeddings")
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = Similarity.hardNegativesQuery(spark, sf001).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 10)
      // no returned negative shares the query's label
      assert(rows.forall(r => labels(r.getAs[Long]("vec_id")) != labels(q)))
    }
    // equivalence: top-10 of the pre-filtered (different-label) corpus
    val bf = Similarity.bruteForceTopK(
        emb.filter(col("label") =!= labels(0L)), emb.filter(col("vec_id") === 0L), k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(byQ(0L).map(_.getAs[Long]("vec_id")).toSet == bf)
  }

  test("matryoshka: corpus-wide rerank recovers brute force; narrow rerank keeps full-cosine order") {
    val emb = graft.sources.Tables.load(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    // r = corpus size → the rerank sees every candidate → exact top-k
    val full = ReferenceForms.mrlTopK(emb, queries, dPrefix = 16, r = 1000, k = 20)
      .select("query_id", "vec_id", "cosine", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val bf = Similarity.bruteForceTopK(emb, queries, k = 20)
      .select("query_id", "vec_id", "cosine", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(full == bf, "full-width rerank must equal exact brute force")
    // production regime: every emitted cosine is exact, ranks are
    // contiguous and ordered by the full cosine within each query
    val narrow = Similarity.mrlQuery(spark, sf001).collect()
    val exact = bf.map(t => (t._1, t._2) -> t._3).toMap
    narrow.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 20L))
      val ordered = rows.sortBy(_.getAs[Long]("rank"))
        .map(_.getAs[Double]("cosine"))
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a >= b })
    }
    narrow.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      exact.get(key).foreach(c =>
        assert(math.abs(c - r.getAs[Double]("cosine")) < 1e-12))
    }
  }

  test("embedding dim stats: exact micro-unit min/max/sum on a hand corpus") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, -0.5f)),
      (1L, Seq(0.5f, 0.25f)),
      (2L, Seq(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = graft.operators.EmbeddingStats.dimStats(emb).collect()
      .map(x => x.getAs[Long]("dim") ->
        ((x.getAs[Long]("n"), x.getAs[Long]("min_micro"),
          x.getAs[Long]("max_micro"), x.getAs[Long]("sum_micro")))).toMap
    assert(r(0L) == ((3L, -1000000L, 1000000L, 500000L)))
    assert(r(1L) == ((3L, -500000L, 250000L, -250000L)))
    // fixture pass covers every (vec, dim) element exactly once
    val full = graft.operators.EmbeddingStats.dimStatsQuery(spark, sf001)
    val emb001 = graft.sources.Tables.load(spark, sf001, "embeddings")
    assert(full.agg(sum("n")).head().getLong(0) == emb001.count() * 64)
  }

  test("MMR rerank: top-relevance first, duplicates deferred, picks distinct and candidate-bounded") {
    import spark.implicits._
    // fixture: rank-1 equals exact top-1, picks are distinct candidates
    val emb = graft.sources.Tables.load(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val mmr = Similarity.mmrRerank(emb, queries, k = 5, r = 20).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Long]("mmr_rank")))
    val top1 = Similarity.bruteForceTopK(emb, queries, 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("vec_id")).toMap
    mmr.filter(_._3 == 1L).foreach { case (q, v, _) =>
      assert(v == top1(q), s"MMR rank 1 for query $q must be the exact top-1")
    }
    mmr.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).distinct.length == 5, s"query $q picked a duplicate")
    }
    // hand case: an exact duplicate of pick 1 is deferred behind a diverse
    // candidate at diversity-leaning λ=0.3 (at λ=0.7 relevance dominates)
    def vec(a: Double, b: Double): Seq[Float] =
      (Seq(a.toFloat, b.toFloat) ++ Seq.fill(62)(0.0f))
    val corpus = Seq(
      (1L, vec(1.0, 0.0)),   // a1: rel 1
      (2L, vec(1.0, 0.0)),   // a2: exact duplicate of a1
      (3L, vec(0.6, 0.8))).toDF("vec_id", "embedding") // b: rel 0.6, diverse
    val qdf = Seq((0L, vec(1.0, 0.0))).toDF("vec_id", "embedding")
    val order = Similarity.mmrRerank(corpus, qdf, k = 3, r = 3, lambdaTenths = 3)
      .orderBy("mmr_rank").collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(order == Seq(1L, 3L, 2L),
      s"diverse candidate must outrank the duplicate at λ=0.3, got $order")
  }

  test("MMR fold form ≡ iterative reference (bit-identical picks, ranks, rel)") {
    // the round-18 single-fold mmrSelect must reproduce the step-wise
    // window/join/checkpoint loop exactly — same picks, same ranks, same
    // rel — across λ regimes, on real fixture geometry and on a degenerate
    // hand case (duplicate vectors force the penalty path and the tiebreak)
    val emb = graft.sources.Tables.load(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rel"), r.getAs[Long]("mmr_rank"))).toSet
    for (lt <- Seq(0, 3, 7, 10)) {
      val cand = Similarity.bruteForceTopK(emb, queries, 15)
        .select(col("query_id"), col("vec_id"),
          floor(col("cosine") * lit(1000000.0) + lit(0.5)).cast("long").as("rel"))
      val fold = rows(Similarity.mmrSelect(cand, emb, k = 6, lambdaTenths = lt))
      val iter = rows(Similarity.mmrSelectIterative(cand, emb, k = 6, lambdaTenths = lt))
      assert(fold == iter, s"fold/iterative divergence at lambdaTenths=$lt")
    }
    // candidate WITHOUT an embedding row: pickable at step 1 only, then
    // dropped by the sims inner join — the fold must replicate that drop
    import spark.implicits._
    def vec(a: Double, b: Double): Seq[Float] =
      Seq(a.toFloat, b.toFloat) ++ Seq.fill(62)(0.0f)
    val corpus = Seq((1L, vec(1.0, 0.0)), (2L, vec(1.0, 0.0)),
      (3L, vec(0.6, 0.8))).toDF("vec_id", "embedding")
    val cand = Seq((0L, 9L, 2000000L), (0L, 1L, 1000000L), (0L, 2L, 999999L),
      (0L, 3L, 600000L)).toDF("query_id", "vec_id", "rel")
    val fold = rows(Similarity.mmrSelect(cand, corpus, k = 4, lambdaTenths = 3))
    val iter = rows(Similarity.mmrSelectIterative(cand, corpus, k = 4, lambdaTenths = 3))
    assert(fold == iter, "fold/iterative divergence on the no-embedding candidate case")
    // the no-embedding pick empties the pool (no sims entries name it as
    // `o`), so exactly one pick survives — in both implementations
    assert(fold.map(_._2) == Set(9L) && fold.size == 1)
  }

  test("scaledPlanes: occupancy-targeted, clamped, monotone in corpus size") {
    assert(Similarity.scaledPlanes(500L) == 2)       // floor
    assert(Similarity.scaledPlanes(5000L) == 3)      // sf0.01 shape
    assert(Similarity.scaledPlanes(50000L) == 6)     // sf0.1 shape
    assert(Similarity.scaledPlanes(500000L) == 9)    // sf1 shape
    assert(Similarity.scaledPlanes(1500000L) == 11)  // sf3 shape
    assert(Similarity.scaledPlanes(1000000000000L) == 16) // ceiling
    val ns = Seq(1L, 100L, 10000L, 1000000L, 100000000L)
    assert(ns.map(Similarity.scaledPlanes(_)) == ns.map(Similarity.scaledPlanes(_)).sorted)
    // exact boundary: n == targetBucket << p stays at p
    assert(Similarity.scaledPlanes(1024L << 6) == 6)
    assert(Similarity.scaledPlanes((1024L << 6) + 1) == 7)
    // no-index rerank budget: 5% fraction with the 100-candidate floor
    assert(Similarity.scaledCandidates(500L) == 100)    // floor
    assert(Similarity.scaledCandidates(2000L) == 100)   // 5% == floor
    assert(Similarity.scaledCandidates(20000L) == 1000) // sf1 shape
    assert(Similarity.scaledCandidates(60000L) == 3000) // sf3 shape
    // bucketed-tier prefix cut: a quarter of expected probed mass,
    // 100-candidate floor — corpus-INDEPENDENT (occupancy is the constant)
    assert(Similarity.bucketedRerank(1) == 256)
    assert(Similarity.bucketedRerank(2) == 512)  // verify-scale fixtures
    assert(Similarity.bucketedRerank(4) == 1024) // sf1 (probes 4 at planes 5)
    assert(Similarity.bucketedRerank(1, targetBucket = 100L) == 100) // floor
    // deeper-decade probe bump: +1 probe per plane past 5, capped at 8;
    // planes <= 5 (verify scales and sf1) bit-identical to the fixed-4 era
    assert(Seq(1, 2, 4, 5).map(Similarity.scaledProbes) == Seq(1, 2, 4, 4))
    assert(Similarity.scaledProbes(6) == 5)  // sf3 shape
    assert(Similarity.scaledProbes(8) == 7)
    assert(Similarity.scaledProbes(16) == 8) // cap
    assert(Similarity.bucketedRerank(Similarity.scaledProbes(6)) == 1280)
  }

  test("LSH top-k: results are a subset of correct cosine scores, same bucket only") {
    val exact = Similarity.bruteForceQuery(spark, sf001)
      .select("query_id", "vec_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshQuery(spark, sf001).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      // any (q, v) scored by LSH must carry the identical cosine value
      exact.get(key).foreach(c => assert(math.abs(c - r.getAs[Double]("cosine")) < 1e-9))
    }
  }
}
