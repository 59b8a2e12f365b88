package graft

import graft.operators.EmbeddingPca
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EmbeddingPcaSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("PCA: recovers a planted dominant direction in 3-d") {
    // points spread along (1,1,0)/√2 with ±0.01 noise on the third axis:
    // the top component must align with the diagonal and carry almost
    // all the variance
    val pts = (0 until 200).map { i =>
      val t = (i - 100) / 25.0
      val eps = (i % 3 - 1) * 0.01
      (i.toLong, Array((t + eps).toFloat, (t - eps).toFloat, (eps * 2).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val m = EmbeddingPca.fit(df, 3)
    val c0 = m.components(0)
    val diag = math.sqrt(2.0) / 2.0
    assert(math.abs(math.abs(c0(0)) - diag) < 0.01 &&
      math.abs(math.abs(c0(1)) - diag) < 0.01 &&
      math.abs(c0(2)) < 0.05, s"top component ${c0.toSeq}")
    assert(m.eigenvalues(0) / m.eigenvalues.sum > 0.99,
      "planted direction dominates the spectrum")
    // trace preservation
    assert(math.abs(m.eigenvalues.sum - m.covTrace) <= 1e-9 * m.covTrace)
  }

  test("PCA: Jacobi matches a hand-diagonalizable 2x2") {
    // [[2,1],[1,2]] has eigenvalues 3 and 1 with vectors (1,1)/√2, (1,-1)/√2
    val (evals, vecs) = EmbeddingPca.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    val sorted = evals.sorted
    assert(math.abs(sorted(0) - 1.0) < 1e-12 && math.abs(sorted(1) - 3.0) < 1e-12)
    val vTop = vecs(evals.indexOf(evals.max))
    assert(math.abs(math.abs(vTop(0)) - math.sqrt(0.5)) < 1e-9 &&
      math.abs(vTop(0) - vTop(1)) < 1e-9)
  }

  test("PCA: model is partitioning-stable (exact decimal moments)") {
    val emb = graft.sources.Tables.load(spark, sf001, "embeddings")
    val a = EmbeddingPca.fit(emb, 64)
    val b = EmbeddingPca.fit(emb.repartition(13), 64)
    assert(a.eigenvalues.toSeq == b.eigenvalues.toSeq)
    assert(a.components.map(_.toSeq).toSeq == b.components.map(_.toSeq).toSeq)
  }

  test("PCA ANN: full-candidate rerank equals brute force; pruned recall beats random") {
    val emb = graft.sources.Tables.load(spark, sf01, "embeddings")
    val m = EmbeddingPca.fitCached(spark, sf01)
    val q = emb.filter(col("vec_id") < 5)
    def keySet(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = keySet(graft.operators.Similarity.bruteForceTopK(emb, q, k = 20))
    // r >= corpus size: the first pass prunes nothing, so the rerank IS
    // brute force (same q9 cosine, same tiebreak)
    val full = keySet(ReferenceForms.pcaTopK(emb, q, m, r = 1000000, k = 20))
    assert(full == brute)
    // r = 100 of 5000: an 8-of-64-dim subspace must beat random pruning
    // (random 100-candidate recall ~= 2%)
    val pruned = keySet(ReferenceForms.pcaTopK(emb, q, m, r = 100, k = 20))
      .map(t => (t._1, t._2))
    val hits = pruned.intersect(brute.map(t => (t._1, t._2))).size
    assert(hits >= 0.10 * brute.size,
      s"pca recall ${hits.toDouble / brute.size} not above the random floor")
  }

  test("PCA check query: every gate true on the fixtures; projection is narrow") {
    val r = EmbeddingPca.pcaCheckQuery(spark, sf01).collect()
    assert(r.length == 8)
    assert(r.forall(x => x.getAs[Boolean]("var_matches_lambda") &&
      x.getAs[Boolean]("monotone") && x.getAs[Boolean]("orthonormal") &&
      x.getAs[Boolean]("trace_preserved")))
    // the projection pass itself must be narrow — no exchange
    val emb = graft.sources.Tables.load(spark, sf001, "embeddings")
    val m = EmbeddingPca.fit(emb, 64)
    val plan = EmbeddingPca.project(emb, m, 4)
      .queryExecution.executedPlan.toString
    // load's adaptive round-robin redistribution allowed; no keyed shuffle
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"projection must not key-shuffle:\n$plan")
  }
}
