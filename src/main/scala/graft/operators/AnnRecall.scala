package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Driver-verified ANN quality gate: recall@k of every approximate tier
 * against the brute-force exact top-k, computed in-engine and emitted as
 * one row per tier — `(tier, k, n_matches, recall_micro, within_floor)`.
 *
 * The pattern is [[Sketches.vocabApproxCheckQuery]]'s bound-boolean: the
 * approximate side's OUTPUT is engine-specific, but its quality CONTRACT
 * (recall ≥ a per-tier floor) is a value both engines can agree on. The
 * oracle replays every tier relationally (the same generated SQL the
 * per-tier correctness rows already verify bit-for-bit), recomputes the
 * identical integer recall, and asserts the identical boolean — so a
 * silent quality regression in any tier (bad codebooks, broken probe
 * selection, wrong bucket math) flips a driver hash mismatch, not just a
 * spec inequality.
 *
 * Determinism: recall is exact integer arithmetic — `matches · 1e6 div
 * (queries · k)` — no floats anywhere, so there is no quantization rule
 * for the engines to disagree on.
 *
 * At 100 TB the truth side is the scan-bound exact baseline
 * ([[Similarity.bruteForceTopK]] — one corpus pass, no shuffle); running
 * it IS the cost of the gate, exactly like the exact `countDistinct` twin
 * in the vocab sketch gate. Production reruns this on a sampled query set,
 * not per query.
 */
object AnnRecall {

  /** (tier, k, floor in micro-units). Floors are the tier's documented
    * quality contract on the synthetic fixtures: comfortably below every
    * measured value but high enough that a broken tier — empty probes,
    * garbage codebooks, wrong rerank — lands far under.
    *
    * mrl and pca are OCCUPANCY-BOUND since round 14
    * ([[Similarity.mrlBucketedTopK]] / [[EmbeddingPca.pcaBucketedTopK]]:
    * candidates from the multi-probe buckets, prefix cut at the
    * occupancy-derived [[Similarity.bucketedRerank]] budget): measured
    * 0.59 / 0.57 at sf0.1 and 0.38 / 0.32 at sf1 — per-query cost now
    * DECADE-FLAT (the round-13 scaledCandidates budget was decade-stable
    * in recall but linear in per-query cost), recall ceilinged by the
    * multiprobe tier whose buckets supply the candidates.
    *
    * The IVF family sizes nlist to the corpus since round 14
    * ([[IvfIndex.scaledNlist]] — constant ~256-vector cell occupancy —
    * with ⌊√nlist⌋ probes): ivf measures 0.94 at BOTH sf0.1 (nlist=8,
    * identical to the fixed-parameter era) and sf1 (nlist=128, nprobe=11
    * — candidates ~11·156 ≈ 3% of the corpus vs the fixed model's 25%),
    * ivfpq 0.66/0.60, ivfpq_res 0.40/0.54 — per-probe cost grows ~√decade
    * while recall holds far above the floors.
    *
    * The two single-table bucketing tiers size their hyperplane count to
    * the corpus since round 13 ([[Similarity.scaledPlanes]] — constant
    * expected occupancy instead of the fixed 8 planes whose recall decayed
    * to 0–6% by sf0.1): measured recall is now ~flat across THREE decades —
    * lsh 0.31/0.33/0.35 at sf0.001/0.01/0.1 (0.14 at sf1), multiprobe
    * 0.57/0.64/0.63 (0.40 at sf1) — so their floors are real quality
    * contracts (multiprobe's 25× the round-12 floor), not presence checks.
    * Cross-tier ordering (multiprobe ≥ lsh, sq8 atop the quantizer tiers)
    * is spec-asserted in AnnRecallSpec rather than floor-encoded. */
  val Tiers: Seq[(String, Int, Long)] = Seq(
    ("lsh", 20, 100000L),
    ("multiprobe", 20, 250000L),
    ("mrl", 20, 250000L),
    // pca (occupancy-bound since r14) measures 0.57 at sf0.1 / 0.32 at
    // sf1 / 0.24 at sf3 — an 8-of-64-dim learned subspace over
    // near-isotropic synthetic vectors; the floor documents "far above
    // random pruning", not production-embedding quality
    ("pca", 20, 100000L),
    ("ivf", 20, 500000L),
    // the pre-filtered tier's truth is the exact SAME-LABEL top-10
    // (q_ann_filtered), not the unfiltered baseline — recall measures how
    // much of the eligible subset's true top-k survives the cell probe;
    // measured 0.62 / 0.80 / 0.94 at sf0.01 / sf0.1 / sf1
    ("ivf_filtered", 10, 500000L),
    ("pq", 10, 400000L),
    // opq = pq with the eigenvalue-allocated PCA rotation in front (same
    // m/k/r budget). On the near-isotropic fixtures the rotation is
    // neutral — opq tracks pq plus seed/tie noise in EITHER direction
    // (measured opq vs pq: 0.68/0.74 sf0.01, 0.54/0.68 sf0.1, 0.42/0.52
    // sf1, 0.68/0.54 sf3) — so its floor is pq's contract minus that
    // noise band, not pq's floor verbatim (0.42 over 0.40 at sf1 was one
    // reroll from a spurious trip); the rotation's provable win lives in
    // OpqIndexSpec's rank-8 distortion test
    ("opq", 10, 300000L),
    // bq = 1-bit sign codes + Hamming first pass + exact rerank (zero
    // model state, 32× lighter than the floats); floor set after
    // measuring across all four scales — see the Tiers note below
    ("bq", 10, 300000L),
    // ivf_bq = the bq first pass restricted to the probed cells (its
    // rescore pool tracks the probed mass) — recall is bounded above by
    // what the probe retains, so the floor is bq's band shaved by the
    // probe loss, the same reasoning as ivfpq vs pq
    ("ivf_bq", 10, 250000L),
    ("ivfpq", 10, 400000L),
    ("ivfpq_res", 10, 250000L),
    ("sq8", 10, 900000L))

  private val NQueries = 5

  /** The gate's exact truth sets, memoized per (corpus, kind) as DRIVER
    * ROWS (≤ NQueries·k pairs each): the scan-bound exact passes are paid
    * once per (JVM, corpus) and every later gate evaluation (bench timed
    * passes) re-reads driver rows. */
  private val truths = new graft.Memo[String, Seq[(Long, Long)]]

  private def cachedTruth(spark: SparkSession, key: String,
      build: => DataFrame): Seq[(Long, Long)] =
    truths(key) {
      build.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }

  /** One (tier, k, n_matches, recall_micro, within_floor) row per tier.
    *
    * Truth sets are memoized as driver rows ([[cachedTruth]]): each
    * scan-bound exact pass is paid once per (JVM, corpus) instead of
    * re-executing inside every tier's join (and again for the
    * denominator count). The recall DENOMINATOR
    * is the truth's OWN row count, not `NQueries·k`: the filtered tier's
    * truth (exact same-label top-10) yields fewer than k rows for a
    * query whose label class has < k+1 members, and a fixed denominator
    * would cap achievable recall below 1.0 — a fixture label-cardinality
    * shift could then trip the floor with no real tier regression. For
    * the unfiltered tiers the two definitions coincide (corpus ≫ k), so
    * this is a no-op there. The oracle derives the identical denominator
    * from the identical truth subquery. */
  def recallQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < NQueries)
    def truthAt(k: Int): Seq[(Long, Long)] = cachedTruth(spark, s"$sfDir#k=$k",
      Similarity.bruteForceTopK(emb, queries, k))
    val truth: Map[Int, Seq[(Long, Long)]] =
      Tiers.map(_._2).distinct.map(k => k -> truthAt(k)).toMap
    // the filtered tier's own truth: the exact same-label top-10 — the
    // already-verified q_ann_filtered result
    val filteredTruth = cachedTruth(spark, s"$sfDir#filtered",
      Similarity.filteredQuery(spark, sfDir))
    // The 13 tier plans are built CONCURRENTLY (round 19, guide §2.6 —
    // overlap independent driver work): each tier's Dataset construction
    // is independent driver-side analysis (plus, on the cold first
    // invocation, its independent eager index/model build jobs, which
    // Spark happily runs in parallel), and building them sequentially was
    // the gate's dominant residual fn-construction cost (~1.9 s of ~2.0 s
    // at sf0.1). Model/index memos are keyed per corpus and build once
    // under concurrent callers ([[graft.Memo]]); the assembled plan (and
    // therefore the result) is identical to the sequential build's.
    val tierBuilders: Seq[(String, () => DataFrame)] = Seq(
      "lsh"        -> (() => Similarity.lshQuery(spark, sfDir)),
      "multiprobe" -> (() => Similarity.multiProbeQuery(spark, sfDir)),
      "mrl"        -> (() => Similarity.mrlQuery(spark, sfDir)),
      "pca"        -> (() => EmbeddingPca.annPcaQuery(spark, sfDir)),
      "ivf"        -> (() => IvfIndex.ivfQuery(spark, sfDir)),
      "ivf_filtered" -> (() => IvfIndex.ivfFilteredQuery(spark, sfDir)),
      "pq"         -> (() => PqIndex.pqQuery(spark, sfDir)),
      "opq"        -> (() => OpqIndex.opqQuery(spark, sfDir)),
      "bq"         -> (() => BqIndex.bqQuery(spark, sfDir)),
      "ivf_bq"     -> (() => IvfBqIndex.ivfbqQuery(spark, sfDir)),
      "ivfpq"      -> (() => IvfPqIndex.ivfpqQuery(spark, sfDir)),
      "ivfpq_res"  -> (() => IvfPqIndex.ivfpqResidualQuery(spark, sfDir)),
      "sq8"        -> (() => SqIndex.sqQuery(spark, sfDir)))
    val tierDf: Map[String, DataFrame] = graft.DriverPool.buildAll(
      "q_ann_recall", tierBuilders.map { case (name, build) =>
        () => (name, build())
      }).toMap
    Tiers.map { case (tier, k, floorMicro) =>
      val rows = if (tier == "ivf_filtered") filteredTruth else truth(k)
      // the denominator is the truth set's OWN size — and the truth set
      // is ALREADY driver rows (cachedTruth), so it rides as a literal
      // (round 18): the former per-tier `crossJoin(truth.agg(count))`
      // spent 13 extra aggregate+join subtrees re-counting driver-local
      // sequences inside the plan
      val denom = rows.size.toLong
      tierDf(tier).select("query_id", "vec_id")
        .join(rows.toDF("query_id", "vec_id"), Seq("query_id", "vec_id"))
        .agg(count(lit(1)).as("n_matches"))
        .select(
          lit(tier).as("tier"),
          lit(k).as("k"),
          col("n_matches"),
          expr(s"n_matches * 1000000 div ${denom}L").as("recall_micro"),
          (expr(s"n_matches * 1000000 div ${denom}L") >= lit(floorMicro))
            .as("within_floor"))
    }.reduce(_.unionAll(_))
  }

  /** DuckDB twin, composed from the SAME generated per-tier oracle SQL the
    * driver already verifies row-for-row: each tier's full statement is
    * embedded as a subquery, intersected with the brute-force truth (the
    * `q_ann_topk` oracle, rank-cut to the tier's k), and reduced with the
    * identical integer recall. `tierSql` keys are the oracleSql map's. */
  def recallOracleSql(tierSql: Map[String, String]): String = {
    val truthSql = tierSql("q_ann_topk")
    val tierKeys = Map(
      "lsh" -> "q_ann_lsh", "multiprobe" -> "q_ann_multiprobe",
      "mrl" -> "q_ann_mrl", "pca" -> "q_ann_pca",
      "ivf" -> "q_ann_ivf", "ivf_filtered" -> "q_ann_ivf_filtered",
      "pq" -> "q_ann_pq", "opq" -> "q_ann_opq", "bq" -> "q_ann_bq",
      "ivf_bq" -> "q_ann_ivf_bq",
      "ivfpq" -> "q_ann_ivfpq", "ivfpq_res" -> "q_ann_ivfpq_res",
      "sq8" -> "q_ann_sq")
    val rows = Tiers.map { case (tier, k, _) =>
      // the filtered tier intersects its OWN truth — the exact same-label
      // top-10 the q_ann_filtered oracle already states (rank ≤ 10 built
      // in); every other tier cuts the unfiltered exact baseline to k
      val truthSub =
        if (tier == "ivf_filtered")
          s"(SELECT query_id, vec_id FROM (${tierSql("q_ann_filtered")}) ft)"
        else
          s"(SELECT query_id, vec_id FROM ($truthSql) tt WHERE tt.rank <= $k)"
      s"""SELECT '$tier' AS tier, CAST($k AS INTEGER) AS k,
            CAST((SELECT count(*)
                  FROM (SELECT query_id, vec_id FROM (${tierSql(tierKeys(tier))}) x) r
                  JOIN $truthSub t
                    USING (query_id, vec_id)) AS BIGINT) AS n_matches,
            CAST((SELECT count(*) FROM $truthSub t2) AS BIGINT) AS denom"""
    }
    // recall/floor derived from n_matches in an outer pass so the integer
    // arithmetic appears exactly once per column; the denominator is the
    // truth's OWN row count (see recallQuery — matters for the filtered
    // tier, whose truth can be under k rows per query)
    val union = rows.mkString("\n          UNION ALL\n          ")
    s"""WITH m AS (
          $union
        )
        SELECT tier, k, n_matches,
               (n_matches * 1000000) // denom AS recall_micro,
               (n_matches * 1000000) // denom >=
                 CASE tier ${Tiers.map { case (t, _, f) =>
                   s"WHEN '$t' THEN $f"
                 }.mkString(" ")} END AS within_floor
        FROM m"""
  }
}
