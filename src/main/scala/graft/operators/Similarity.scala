package graft.operators

import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor search over an embedding column.
 *
 * Baseline: brute-force cosine top-k — broadcast the (small) query set,
 * score every corpus vector with the codegen'd `cosine_sim` kernel, take
 * per-query top-k with a window. One pass over the corpus, no corpus
 * shuffle: at 100 TB this is the scan-bound exact answer.
 *
 * Scale path: random-hyperplane LSH buckets (same family as
 * `Dedup.embeddingNearDup`) — corpus is bucketed once (narrow), queries probe
 * only their own bucket (and optional neighbor probes), turning the scan into
 * a targeted partition read. IVF with learned centroids slots in behind the
 * same interface once a k-means fit is added.
 */
object Similarity {

  /** Quantize a float-kernel score before it is ranked, filtered, or
    * emitted: raw IEEE accumulation tails are NOT portable across engines
    * (two correct sequential folds can differ in the last ulp), so every
    * score that reaches an oracle comparison is rounded to 9 decimals on
    * BOTH sides — 7 orders of magnitude above ulp noise, far below any
    * semantic tolerance. Ranks order by the ROUNDED value (ties fall to
    * the deterministic id tiebreak), so rank columns are ulp-robust too. */
  private[graft] def q9(c: Column): Column = round(c, 9)

  /** Brute-force exact top-k neighbors for each query vector. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val scored = corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        q9(VectorFunctions.cosine_sim(col("embedding"), col("query_vec"))).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    // bigint rank: lines up with DuckDB's row_number type in the oracle
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplanes (shared with query side, with
    * [[graft.operators.Dedup.embeddingNearDup]], and with the generated
    * oracle SQL in graft.queries — one definition so they can never drift). */
  private[operators] def hyperplanes(planes: Int, dim: Int, seed: Long): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
  }

  /** DuckDB bucket expression over a DOUBLE[] column `col`, replicating
    * [[bucketExpr]] bit-for-bit: the float32 hyperplane components are
    * emitted as their exact double values (Java's Double.toString is
    * round-trip exact), and DuckDB's list_dot_product accumulates doubles
    * sequentially like our DotProduct kernel. */
  private[graft] def bucketSql(col: String, planes: Int, seed: Long): String =
    hyperplanes(planes, 64, seed).zipWithIndex.map { case (p, i) =>
      val lst = p.map(_.toDouble.toString).mkString("[", ",", "]")
      s"CASE WHEN list_dot_product($col, CAST($lst AS DOUBLE[])) >= 0 THEN ${1L << i} ELSE 0 END"
    }.mkString("(", " + ", ")")

  private def bucketExpr(planes: Seq[Seq[Float]]) =
    planes.zipWithIndex.map { case (p, i) =>
      when(VectorFunctions.dot_product(col("embedding"), typedlit(p)) >= 0, 1L << i)
        .otherwise(0L)
    }.reduce(_ + _)

  /**
   * LSH-bucketed ANN: only corpus vectors in the query's hyperplane bucket
   * are scored. Recall < 1 by construction; raise `planes` for smaller
   * buckets (speed) or lower it for higher recall.
   */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      planes: Int = 8,
      seed: Long = 42L): DataFrame = {
    val hp = hyperplanes(planes, 64, seed)
    val bucketedCorpus = corpus.select(
      col("vec_id"), col("embedding"), bucketExpr(hp).as("bucket"))
    val bucketedQueries = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("query_vec"),
      bucketExpr(hp).as("bucket"))
    val scored = bucketedCorpus
      .join(broadcast(bucketedQueries),
        bucketedCorpus("bucket") === bucketedQueries("bucket") &&
          col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        q9(VectorFunctions.cosine_sim(col("embedding"), col("query_vec"))).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** DuckDB per-plane dot-product list over a DOUBLE[] column — the
    * margins [[multiProbeTopK]] ranks; same exactness argument as
    * [[bucketSql]]. */
  private[graft] def dotsSql(col: String, planes: Int, seed: Long): String =
    hyperplanes(planes, 64, seed).map { p =>
      val lst = p.map(_.toDouble.toString).mkString("[", ",", "]")
      s"list_dot_product($col, CAST($lst AS DOUBLE[]))"
    }.mkString("[", ",", "]")

  /**
   * Multi-probe LSH ANN (Lv et al., VLDB'07): each query examines its own
   * bucket PLUS single-bit flips of the `probes − 1` planes with the
   * smallest |dot| margin — the near-boundary planes are the likeliest to
   * disagree with a true neighbor, so probing their flips recovers most of
   * the recall lost to bucketing without re-hashing the corpus or holding
   * extra hash tables.
   *
   * 100 TB shape: the corpus is bucketed ONCE (narrow, codegen) exactly as
   * [[lshTopK]]; only the broadcast query side fans out ×probes, so the
   * recall/cost knob never touches corpus layout or shuffle.
   */
  /** Multi-probe candidate generation, shared by [[multiProbeTopK]] and
    * the bucketed two-stage tiers ([[mrlBucketedTopK]],
    * [[graft.operators.EmbeddingPca.pcaBucketedTopK]]): each query row
    * fans out to its base bucket plus single-bit flips of the `probes − 1`
    * smallest-|margin| planes. Returns (query_id, query_vec, bucket). */
  private[operators] def probedQueryBuckets(
      queries: DataFrame, hp: Seq[Seq[Float]], probes: Int): DataFrame = {
    val dots = array(hp.map(p =>
      VectorFunctions.dot_product(col("query_vec"), typedlit(p))): _*)
    queries
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      .withColumn("_dots", dots)
      // base bucket from the SAME dots the margins rank (≡ bucketExpr)
      .withColumn("_base", expr(
        """aggregate(
             transform(_dots, (d, i) ->
               IF(d >= CAST(0 AS DOUBLE), shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
             CAST(0 AS BIGINT), (a, x) -> a + x)"""))
      .withColumn("_flips", expr(
        s"""slice(transform(array_sort(transform(_dots, (d, i) -> struct(abs(d) AS m, i AS i))),
              s -> s.i), 1, ${probes - 1})"""))
      .withColumn("bucket", explode(expr(
        "array_union(array(_base), transform(_flips, i -> _base ^ shiftleft(CAST(1 AS BIGINT), i)))")))
      .select(col("query_id"), col("query_vec"), col("bucket"))
  }

  /** Corpus side of the bucketed tiers: (vec_id, embedding, bucket) —
    * each vector in exactly ONE bucket (so probe joins cannot duplicate
    * pairs), narrow codegen, no shuffle. */
  private[operators] def bucketedCorpusDf(
      corpus: DataFrame, hp: Seq[Seq[Float]]): DataFrame =
    corpus.select(col("vec_id"), col("embedding"), bucketExpr(hp).as("bucket"))

  def multiProbeTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      planes: Int = 8,
      seed: Long = 42L,
      probes: Int = 4): DataFrame = {
    require(probes >= 1 && probes <= planes, "probes must be in [1, planes]")
    val hp = hyperplanes(planes, 64, seed)
    val bucketedCorpus = bucketedCorpusDf(corpus, hp)
    val probed = probedQueryBuckets(queries, hp, probes)

    val scored = bucketedCorpus
      .join(broadcast(probed),
        bucketedCorpus("bucket") === probed("bucket") &&
          col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        q9(VectorFunctions.cosine_sim(col("embedding"), col("query_vec"))).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /**
   * Filtered (metadata-constrained) ANN: exact top-k among only the corpus
   * vectors satisfying `pred` — the "vector search WHERE clause"
   * (same-tenant, same-language, same-class, time-ranged…).
   *
   * This is PRE-filtering: the predicate applies before scoring, so the
   * result is the true top-k of the eligible subset (post-filtering a
   * plain top-k can return < k rows, or miss eligible neighbors entirely
   * when the unfiltered top-k is dominated by ineligible vectors).
   *
   * 100 TB shape: `pred` may reference corpus columns and/or `query_`-side
   * columns. Corpus-only conjuncts are pushed by Catalyst below the join
   * into the scan (PushedFilters — asserted in SimilaritySpec), so a
   * selective filter turns the whole scan-bound pass into a fraction of
   * the corpus; cross-side conjuncts ride the broadcast-join condition.
   * No corpus shuffle either way.
   */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, pred: Column,
      k: Int): DataFrame = {
    val q = queries.select(queries.columns.map {
      case "vec_id"    => col("vec_id").as("query_id")
      case "embedding" => col("embedding").as("query_vec")
      case c           => col(c).as(s"query_$c")
    }: _*)
    val scored = corpus
      .join(broadcast(q), pred && col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        q9(VectorFunctions.cosine_sim(col("embedding"), col("query_vec"))).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /**
   * OCCUPANCY-BOUND Matryoshka two-stage retrieval: candidate generation
   * goes through the multi-probe LSH buckets ([[probedQueryBuckets]] over
   * [[scaledPlanes]]-sized hyperplanes) instead of a full-corpus prefix
   * pass — the prefix score ranks only vectors in the query's probed
   * buckets, the top `rPrefix` of those rerank at full dimension. Per-query
   * cost therefore tracks BUCKET OCCUPANCY (probes × targetBucket — a
   * corpus-decade constant by scaledPlanes' construction), where a plain
   * full-corpus prefix pass with a [[scaledCandidates]] budget stays a
   * fixed FRACTION of a corpus pass (decade-stable recall, but per-query
   * cost linear in n). The recall ceiling is the multi-probe tier's (candidates outside
   * probed buckets are unreachable); the prefix cut inside the buckets
   * costs little below that ceiling because `rPrefix` is sized at a
   * quarter of expected occupancy. Scores q9-quantized, ranks (score,
   * vec_id)-tiebroken — oracle-replayable like every tier.
   */
  def mrlBucketedTopK(corpus: DataFrame, queries: DataFrame, dPrefix: Int,
      planes: Int, probes: Int, rPrefix: Int, k: Int,
      seed: Long = 42L): DataFrame = {
    require(probes >= 1 && probes <= planes, "probes must be in [1, planes]")
    val hp = hyperplanes(planes, 64, seed)
    val cand = bucketedCorpusDf(corpus, hp)
      .join(broadcast(probedQueryBuckets(queries, hp, probes)),
        Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"), col("embedding"), col("query_vec"),
        q9(VectorFunctions.cosine_sim(
          slice(col("embedding"), 1, dPrefix),
          slice(col("query_vec"), 1, dPrefix))).as("prefix_cos"))
    val wPre = Window.partitionBy("query_id")
      .orderBy(col("prefix_cos").desc, col("vec_id").asc)
    val wFull = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cand.withColumn("_pr", row_number().over(wPre))
      .filter(col("_pr") <= rPrefix)
      .select(col("query_id"), col("vec_id"), col("prefix_cos"),
        q9(VectorFunctions.cosine_sim(col("embedding"), col("query_vec")))
          .as("cosine"))
      .withColumn("rank", row_number().over(wFull).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Prefix-cut budget for the bucketed two-stage tiers: a quarter of the
    * expected probed mass (probes × targetBucket / 4 = 1024 at the
    * defaults), floored at 100 — corpus-independent BY CONSTRUCTION
    * (occupancy is what scaledPlanes holds constant), so rerank cost is
    * decade-flat without a per-corpus cache. */
  def bucketedRerank(probes: Int, targetBucket: Long = 1024L): Int =
    math.max(100L, probes * targetBucket / 4).toInt

  /**
   * Hyperplane count sized to the corpus (the [[graft.operators.Dedup
   * .planesFor]] discipline, applied to the SEARCH tiers): the smallest
   * `p ∈ [minPlanes, maxPlanes]` with `n ≤ targetBucket · 2^p`, so expected
   * bucket occupancy — and with it both per-query scoring cost AND recall —
   * holds roughly constant across corpus decades. Fixed planes fail in both
   * directions: too many for a small corpus empties every bucket (recall
   * floors at zero, the measured r12 defect: 8 planes ⇒ ~N/256 occupancy ⇒
   * 0–6% recall), too few for a large one re-creates the full scan.
   * Integer comparison ladder — no float log2 edge cases, bit-identical to
   * the SQL replica in graft.queries.
   */
  def scaledPlanes(n: Long, targetBucket: Long = 1024L,
      minPlanes: Int = 2, maxPlanes: Int = 16): Int =
    (minPlanes to maxPlanes).find(p => n <= (targetBucket << p)).getOrElse(maxPlanes)

  private val lastAnnPlanes = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Planes chosen by the last corpus-sized lsh/multiprobe query — lets
    * graft.queries emit the bucket oracle with the SAME hyperplanes (Verify
    * runs queries before collecting oracleSql — the cachedModel contract). */
  def cachedAnnPlanes: Option[Int] = {
    val v = lastAnnPlanes.get()
    if (v > 0) Some(v) else None
  }

  /** Probes for a scaled plane count: 4 once there is room, never more
    * than the plane count itself — plus ONE EXTRA PROBE PER PLANE past 5
    * (capped at 8). The deeper-decade bump is occupancy-derived: a fixed
    * 4 probes over a growing plane count examines a vanishing 4/2^p of
    * bucket space, which is what thinned the bucketed tiers' recall at
    * sf3 (mrl 0.28 vs its 0.25 floor — one fixture reroll from a red
    * gate); probing one more flip per decade keeps the examined mass
    * (and with it [[bucketedRerank]]'s budget, a fixed quarter of it)
    * growing with the corpus at occupancy-flat per-probe cost. planes ≤ 5
    * — every verify-scale fixture and sf1 — is bit-identical to the
    * fixed-4 era, so no oracle churn below sf3. */
  def scaledProbes(planes: Int): Int =
    if (planes <= 5) math.min(4, planes)
    else math.min(8, 4 + (planes - 5))

  /** Matryoshka rerank budget sized to the corpus: a constant FRACTION
    * (5% — the share the sf0.1 fixture's 100-of-2000 floor measures at)
    * with a 100-candidate floor. The prefix pass's candidate QUALITY at a
    * fixed fraction is scale-free, so recall holds across decades, while
    * a fixed r decays (r=100 over 20k vectors reranks 0.5% — measured
    * 0.19 recall at sf1 vs 0.38 at sf0.1). Rerank cost stays a fixed 5%
    * of one corpus pass. */
  def scaledCandidates(n: Long): Int =
    math.max(100L, n / 20L).min(Int.MaxValue.toLong).toInt

  /**
   * Maximal-Marginal-Relevance rerank (Carbonell & Goldstein, SIGIR'98) —
   * diversity-aware top-k for RAG/retrieval: greedily pick the candidate
   * maximizing `λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s)`, so near-
   * duplicate hits cannot crowd the result list. The relevance pass is
   * the exact [[bruteForceTopK]] cut to `r` candidates per query.
   *
   * Exactness: λ rides as tenths and every score is a micro-unit BIGINT
   * (`floor(q9(cos)·1e6 + 0.5)` — the engine's tie-rule-free
   * quantization), so the greedy argmax is integer arithmetic with a
   * (score desc, vec_id asc) total order — bit-reproducible and
   * oracle-replayable. The max-sim penalty folds INCREMENTALLY
   * (`pen_t = greatest(pen_{t−1}, sim(c, pick_{t−1}))`), so step t costs
   * one row_number window plus one bounded join, never a re-scan of the
   * picked set.
   *
   * 100 TB shape: everything after the scan-bound relevance pass is
   * bounded by queries × r (candidates) and queries × r² (pairwise sims,
   * checkpointed once, reused k−1 times) — corpus size never enters the
   * iteration. `localCheckpoint` per round truncates the growing plan,
   * the [[graft.operators.Dedup.connectedComponents]] driver-loop
   * discipline.
   */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, k: Int, r: Int,
      lambdaTenths: Int = 7): DataFrame = {
    require(r >= k, "need r >= k")
    def micro(c: Column): Column =
      floor(c * lit(1000000.0) + lit(0.5)).cast("long")
    val cand = bruteForceTopK(corpus, queries, r)
      .select(col("query_id"), col("vec_id"), micro(col("cosine")).as("rel"))
    mmrSelect(cand, corpus.select(col("vec_id"), col("embedding")),
      k, lambdaTenths)
  }

  /** The MMR greedy core over an EXPLICIT candidate list — `cand` is
    * (query_id, vec_id, rel) with rel an integer relevance in micro-scale
    * units (any bounded retrieval leg: cosine, BM25 points, fused RRF
    * rank decay), `emb` supplies the diversity geometry. This is what a
    * hybrid/RAG pipeline calls after fusion; [[mmrRerank]] is the
    * cosine-relevance instantiation.
    *
    * The greedy loop runs as ONE array fold per query row (the candidate
    * list and its pairwise-sim map are bounded by r and r² — executor-side
    * arrays, never driver state), replacing the former k-round driver loop
    * of window + join + `localCheckpoint` per step: 2 + 2(k−1) serialized
    * eager jobs collapsed to one projection, which at bench scale was the
    * entire cost of q_mmr_rerank / q_rag_e2e / q_rag_media (guide §1.2:
    * fix the distributed algorithm — here, stop paying per-step job
    * latency for an iteration whose state is row-local). Semantics are
    * bit-identical to [[mmrSelectIterative]] (spec-pinned): argmax of
    * `λ·rel − (1−λ)·pen` with vec_id tiebreak, penalty folded as
    * `greatest(pen, sim(c, pick))`, and a candidate with no sim entry for
    * the pick dropped exactly as the iterative inner join dropped it. */
  def mmrSelect(cand0: DataFrame, emb: DataFrame, k: Int,
      lambdaTenths: Int = 7): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(lambdaTenths >= 0 && lambdaTenths <= 10, "lambdaTenths in [0,10]")
    def micro(c: Column): Column =
      floor(c * lit(1000000.0) + lit(0.5)).cast("long")
    // one eager cut: cand0 is typically a whole retrieval pipeline and is
    // consumed twice below (candidate list + sims geometry) — checkpoint
    // the bounded (queries × r) list once instead of re-running it
    val cand = cand0.select(col("query_id"), col("vec_id"), col("rel"))
      .localCheckpoint()
    val ce = cand.join(emb, "vec_id")
    val sims = ce.select(col("query_id"), col("vec_id").as("c"), col("embedding").as("e_c"))
      .join(ce.select(col("query_id"), col("vec_id").as("o"), col("embedding").as("e_o")),
        Seq("query_id"))
      .filter(col("c") =!= col("o"))
      .select(col("query_id"), col("c"), col("o"),
        micro(q9(VectorFunctions.cosine_sim(col("e_c"), col("e_o")))).as("sim"))
    // per-query pairwise-sim lookup: c -> (o -> sim), bounded by r² entries
    val simMaps = sims.groupBy(col("query_id"), col("c"))
      .agg(map_from_entries(collect_list(struct(col("o"), col("sim")))).as("m"))
      .groupBy("query_id")
      .agg(map_from_entries(collect_list(struct(col("c"), col("m")))).as("simmap"))
    val cands = cand.groupBy("query_id")
      .agg(collect_list(struct(col("vec_id"), col("rel"))).as("cands"))
    val (lam, lamC) = (lambdaTenths.toLong, 10L - lambdaTenths)
    // the k greedy steps as a single fold; `best` is recomputed per use
    // (SQL lambdas have no let-binding) — an ascending struct sort on
    // (−score, vec_id), so element 1 IS the (score desc, vec_id asc)
    // argmax the iterative row_number picked
    val best = "element_at(array_sort(transform(st.rem, x -> " +
      s"named_struct('ns', -($lam * x.rel - $lamC * x.pen), 'v', x.v, 'rel', x.rel))), 1)"
    val fold =
      s"""aggregate(
            sequence(1, $k),
            named_struct(
              'rem', transform(cands, x ->
                named_struct('v', x.vec_id, 'rel', x.rel, 'pen', CAST(0 AS BIGINT))),
              'picks', CAST(array() AS ARRAY<STRUCT<v: BIGINT, rel: BIGINT, r: BIGINT>>)),
            (st, t) -> IF(size(st.rem) = 0, st,
              named_struct(
                'rem', transform(
                  filter(st.rem, x -> x.v != $best.v AND
                    try_element_at(try_element_at(_simmap, x.v), $best.v) IS NOT NULL),
                  x -> named_struct('v', x.v, 'rel', x.rel,
                    'pen', greatest(x.pen, try_element_at(try_element_at(_simmap, x.v), $best.v)))),
                'picks', concat(st.picks,
                  array(named_struct('v', $best.v, 'rel', $best.rel, 'r', CAST(t AS BIGINT)))))))
          """
    cands.join(simMaps, Seq("query_id"), "left")
      .withColumn("_simmap", coalesce(col("simmap"),
        expr("CAST(map() AS MAP<BIGINT, MAP<BIGINT, BIGINT>>)")))
      .select(col("query_id"), explode(expr(fold).getField("picks")).as("p"))
      .select(col("query_id"), col("p.v").as("vec_id"), col("p.rel").as("rel"),
        col("p.r").as("mmr_rank"))
  }

  /** The pre-round-18 step-wise implementation — k rounds of window-argmax
    * + penalty join, each eagerly checkpointed. Kept as the equivalence
    * REFERENCE for [[mmrSelect]]'s fold form (SimilaritySpec pins
    * identical output on fixtures); not called by any query path. */
  private[graft] def mmrSelectIterative(cand0: DataFrame, emb: DataFrame, k: Int,
      lambdaTenths: Int = 7): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(lambdaTenths >= 0 && lambdaTenths <= 10, "lambdaTenths in [0,10]")
    def micro(c: Column): Column =
      floor(c * lit(1000000.0) + lit(0.5)).cast("long")
    val cand = cand0.select(col("query_id"), col("vec_id"), col("rel"))
      .localCheckpoint()
    val ce = cand.join(emb, "vec_id")
    val sims = ce.select(col("query_id"), col("vec_id").as("c"), col("embedding").as("e_c"))
      .join(ce.select(col("query_id"), col("vec_id").as("o"), col("embedding").as("e_o")),
        Seq("query_id"))
      .filter(col("c") =!= col("o"))
      .select(col("query_id"), col("c").as("vec_id"), col("o"),
        micro(q9(VectorFunctions.cosine_sim(col("e_c"), col("e_o")))).as("sim"))
      .localCheckpoint()
    val (lam, lamC) = (lambdaTenths.toLong, 10L - lambdaTenths)
    var remaining = cand.withColumn("pen", lit(0L))
    val picks = Seq.newBuilder[DataFrame]
    (1 to k).foreach { t =>
      val w = Window.partitionBy("query_id").orderBy(
        (lit(lam) * col("rel") - lit(lamC) * col("pen")).desc, col("vec_id").asc)
      val pick = remaining.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("query_id"), col("vec_id"), col("rel"),
          lit(t.toLong).as("mmr_rank"))
        .localCheckpoint()
      picks += pick
      if (t < k) {
        remaining = remaining
          .join(pick.select(col("query_id"), col("vec_id").as("o")), Seq("query_id"))
          .filter(col("vec_id") =!= col("o"))
          .join(sims, Seq("query_id", "vec_id", "o"))
          .select(col("query_id"), col("vec_id"), col("rel"),
            greatest(col("pen"), col("sim")).as("pen"))
          .localCheckpoint()
      }
    }
    picks.result().reduce(_ unionByName _)
  }

  // Query-pack adapters --------------------------------------------------

  /** Corpus-sized plane count for the embeddings fixture, cached for the
    * oracle. The corpus size comes from the memoized catalog count
    * ([[Tables.rowCount]] — round 18: the per-invocation count() job was
    * paid once per bucketed tier, 4+ jobs inside one q_ann_recall pass);
    * a 100 TB deployment passes its catalog-known corpus size instead. */
  private[operators] def annPlanes(spark: SparkSession, sfDir: String): Int = {
    val p = scaledPlanes(Tables.rowCount(spark, sfDir, "embeddings"))
    lastAnnPlanes.set(p)
    p
  }

  /** Top-20 neighbors for the first 5 vectors, exact. */
  def bruteForceQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 20)
  }

  /** Same-label constrained top-10: each query only searches its own
    * label's partition of the corpus (the multi-tenant ANN shape). */
  def filteredQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    filteredTopK(emb, emb.filter(col("vec_id") < 5),
      col("label") === col("query_label"), k = 10)
  }

  /** Hard-negative mining for contrastive training (the DPR/SimCSE data
    * prep step): for each query, the top-k most similar corpus vectors
    * whose label DIFFERS from the query's — maximally confusable
    * cross-class examples. Pre-filtered [[filteredTopK]] with a negated
    * label equality, so it is the true top-k of the eligible (different-
    * label) subset and inherits the same scan-bound, no-corpus-shuffle
    * plan. */
  def hardNegativesQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    filteredTopK(emb, emb.filter(col("vec_id") < 5),
      col("label") =!= col("query_label"), k = 10)
  }

  /** MMR-diversified top-10 from 50 exact candidates, λ = 0.7. */
  def mmrQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    mmrRerank(emb, emb.filter(col("vec_id") < 5), k = 10, r = 50)
  }

  /** Same queries through the LSH path, planes sized to the corpus. */
  def lshQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    lshTopK(emb, emb.filter(col("vec_id") < 5), k = 20,
      planes = annPlanes(spark, sfDir))
  }

  /** Same queries through the multi-probe path (4 probes over the
    * corpus-sized plane count). */
  def multiProbeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val p = annPlanes(spark, sfDir)
    multiProbeTopK(emb, emb.filter(col("vec_id") < 5), k = 20,
      planes = p, probes = scaledProbes(p))
  }

  /** Same queries through the OCCUPANCY-BOUND Matryoshka path
    * ([[mrlBucketedTopK]]): 16-of-64-dim prefix pass restricted to the
    * query's multi-probe buckets (corpus-sized plane count, shared with
    * the lsh/multiprobe tiers and cached for the oracle), prefix cut at
    * [[bucketedRerank]] candidates, full-dim rerank, top-20. Per-query
    * cost is decade-flat. */
  def mrlQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val p = annPlanes(spark, sfDir)
    val probes = scaledProbes(p)
    mrlBucketedTopK(emb, emb.filter(col("vec_id") < 5), dPrefix = 16,
      planes = p, probes = probes, rPrefix = bucketedRerank(probes), k = 20)
  }
}
