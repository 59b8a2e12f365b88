package graft
package queries

import graft.operators._
import graft.operators.AnnRecall.Tier
import graft.queries.OracleSql._
import graft.queries.QueryDef.sql

/** The vector-similarity tier: the exact baseline, the bucketed and
  * quantized approximate tiers with their recall gate, the IVF index
  * health and probe-tuning queries, and embedding statistics. */
object AnnQueries {

  /** IVF oracle, generated from the SESSION'S trained model: Verify runs
    * the queries first (training + memoizing the centroids), then collects
    * oracleSql — so the exact centroid doubles the search used can be
    * emitted as an inline table, and the assign/probe/search pipeline is
    * replayed relationally (row_number argmax per vector, top-2 probe
    * cells per query, cosine top-20 inside probed cells). Absent a cached
    * model (e.g. the query never ran) the entry is omitted → rows-only. */
  private def ivfOracle(oracle: (IvfIndex.Model, String) => String): () => Option[String] =
    () => operators.IvfIndex.cachedModel.map(m => oracle(m, cellsCteOf(m)))

  /** Plane count the single-table ANN tiers used this session —
    * corpus-sized via [[operators.Similarity.scaledPlanes]], cached by the
    * query run (Verify runs queries before collecting oracleSql). NO
    * fallback: when the cache is unset (the query never ran in this JVM)
    * the entries are OMITTED — the check falls back to a weaker rows-only one
    * instead of comparing against an oracle whose plane count silently
    * disagrees with the dumped artifact (the ivfOracle convention). */
  private def planesOracle(oracle: Int => String): () => Option[String] =
    () => operators.Similarity.cachedAnnPlanes.map(oracle)

  /** Shared CTE prefix for every bucketed ANN oracle: corpus buckets
    * (`bkt`) under the corpus-sized plane count, query margins (`qd`),
    * flip selection (`fl`), and the probed (query_id, qv, bucket) fan-out
    * (`pb`) — the exact multi-probe mechanics of
    * [[operators.Similarity.probedQueryBuckets]]. */
  private def probedBucketCtesSql(p: Int): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           bkt AS (SELECT vec_id, ev, ${operators.Similarity.bucketSql("ev", p, 42L)} AS bucket FROM e),
           qd AS (SELECT vec_id AS query_id, ev AS qv, bucket AS base,
                         ${operators.Similarity.dotsSql("ev", p, 42L)} AS ds
                  FROM bkt WHERE vec_id < 5),
           fl AS (SELECT query_id, qv, base,
                    list_transform(list_slice(list_sort(
                      list_transform(range($p), i -> {'m': abs(ds[i+1]), 'i': i})), 1, ${operators.Similarity.scaledProbes(p) - 1}),
                      s -> s.i) AS flips
                  FROM qd),
           pb AS (SELECT query_id, qv,
                    unnest(list_prepend(base, list_transform(flips, i -> xor(base, 1 << i)))) AS bucket
                  FROM fl)"""

  /** The q_ivf_probe_curve oracle body (shared with q_ivf_autotune, which
    * wraps it in the decision cut): per ladder step, probed-candidate
    * count and recall@20 vs the exact baseline. */
  private def probeCurveOracleSql(m: operators.IvfIndex.Model,
      cellsCte: String): String = {
    // denominator = the truth set's own size (engine: truth.count() —
    // round 17: the queries×k literal understates recall on a corpus
    // smaller than k+1; on every fixture the two agree, and deriving it
    // keeps the FORMULAS in lockstep, not just the fixture values)
    val denom = "(SELECT count(*) FROM truth)"
    val rows = operators.IvfIndex.probeLadder(m.nlist).map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe,
            (SELECT count(*) FROM cells c
             JOIN pr p ON c.cell = p.cell AND p.rn <= $np
                      AND c.vec_id != p.query_id) AS n_candidates,
            (SELECT count(*) FROM (
               SELECT query_id, vec_id FROM (
                 SELECT p.query_id, c.vec_id,
                        row_number() OVER (PARTITION BY p.query_id
                          ORDER BY ${cosineSql("c.ev", "p.qv")} DESC,
                                   c.vec_id ASC) AS rank
                 FROM cells c JOIN pr p ON c.cell = p.cell AND p.rn <= $np
                          AND c.vec_id != p.query_id) t WHERE rank <= 20) r
             JOIN truth USING (query_id, vec_id)) AS n_matches"""
    }.mkString("\n             UNION ALL\n             ")
    s"""$cellsCte,
       pr AS (SELECT vec_id AS query_id, ev AS qv, cell,
                row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
              FROM sc WHERE vec_id < 5),
       truth AS (SELECT query_id, vec_id FROM (
         SELECT q.vec_id AS query_id, c.vec_id,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY ${cosineSql("c.ev", "q.ev")} DESC, c.vec_id ASC) AS rank
         FROM e c JOIN e q ON q.vec_id < 5 AND c.vec_id != q.vec_id) t
         WHERE rank <= 20),
       curve AS (
       $rows
       )
      SELECT nprobe, n_candidates, n_matches,
             n_matches * 1000000 // $denom AS recall_micro
      FROM curve"""
  }

  /** The 64-term sign-code sum over a DOUBLE[] column — the SQL twin of
    * [[operators.BqIndex.codeColumn]] (same term order, see the q_ann_bq
    * comment). */
  private def bqCodeSql(ev: String): String =
    (0 until 64).map { d =>
      // DuckDB's checked shift rejects 1 << 63 (the sign bit), so the
      // top term ships as Long.MinValue arithmetic; every other power
      // shifts normally
      val bit =
        if (d == 63) "(CAST(-9223372036854775807 AS BIGINT) - 1)"
        else s"(CAST(1 AS BIGINT) << $d)"
      s"CASE WHEN $ev[${d + 1}] > 0 THEN $bit ELSE CAST(0 AS BIGINT) END"
    }.mkString("(", "\n             + ", ")")

  /** PQ oracle building blocks, generated from the session's codebooks.
    *
    * Float determinism: Spark normalizes with per-element
    * `(x/√n2).cast("float")`; the SQL twin is
    * `CAST(CAST(x/sqrt(n2) AS FLOAT) AS DOUBLE)` — the same IEEE divide +
    * float rounding over the same doubles. Dot products are sequential
    * double accumulation in both engines (VectorOps.dot /
    * `list_dot_product`), the ½|c|² constants are computed once driver-side
    * ([[PqIndex.halfSq]]) and emitted as literals, and the ADC sum replays
    * Spark's left fold via `list_reduce(list_prepend(0, …))` — so encode
    * argmaxes, ADC scores, and ranks agree bit-for-bit.
    */
  private def pqNormSql: String =
    """nq AS (SELECT vec_id, ev,
          CASE WHEN list_dot_product(ev, ev) = 0 THEN ev
               ELSE list_transform(ev, x ->
                      CAST(CAST(x / sqrt(list_dot_product(ev, ev)) AS FLOAT) AS DOUBLE))
          END AS nv FROM e)"""

  /** `scs` (per-subspace codeword scores) + `enc` (codes) CTEs: argmin_j
    * L2 as argmax_j (x·c_j − ½|c_j|²), ties → lowest j (`list_position`
    * returns the FIRST max, matching nearestCode's sort tiebreak).
    * `from` names the CTE holding the to-encode vector as `nv` — `nq`
    * for global codes over the normalized vector, `rv` for residual
    * codes over x̂ − c. */
  private def pqEncSql(pq: PqIndex.Codebooks, from: String = "nq"): String = {
    val sd = pq.subDim
    val scoreLists = (0 until pq.m).map { s =>
      val sl = s"list_slice(nv, ${s * sd + 1}, ${(s + 1) * sd})"
      val entries = pq.books(s).map(c =>
        s"list_dot_product($sl, ${doubleArrSql(c)}) - CAST(${PqIndex.halfSq(c)} AS DOUBLE)")
        .mkString(",\n                  ")
      s"[$entries] AS ss_$s"
    }.mkString(",\n               ")
    val codes = (0 until pq.m).map(s =>
      s"CAST(list_position(ss_$s, list_max(ss_$s)) - 1 AS INTEGER)").mkString(", ")
    s"""scs AS (SELECT vec_id,
               $scoreLists
             FROM $from),
           enc AS (SELECT vec_id, [$codes] AS codes FROM scs)"""
  }

  /** The (m × k) ADC lookup table expression over a normalized vector
    * column `nv` — entry (s, j) = query subvector s · codeword j. */
  private def pqTablesSql(pq: PqIndex.Codebooks): String = {
    val sd = pq.subDim
    (0 until pq.m).map { s =>
      val sl = s"list_slice(nv, ${s * sd + 1}, ${(s + 1) * sd})"
      "[" + pq.books(s).map(c => s"list_dot_product($sl, ${doubleArrSql(c)})")
        .mkString(",\n                ") + "]"
    }.mkString("[", ",\n               ", "]")
  }

  /** The raw ADC fold: Spark's `aggregate(zip_with(codes, tables, …),
    * 0d, +)` left fold, replayed with `list_reduce` over a 0-prepended
    * list. Unquantized — residual scoring adds the cell term BEFORE the
    * round. */
  private def pqAdcFoldSql(m: Int, tables: String, codes: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range($m), s -> $tables[s+1][$codes[s+1] + 1])),
        (a, x) -> a + x)"""

  /** ADC score quantized to 9 decimals like the engine (candidate cuts
    * rank the ROUNDED score on both sides — see [[cosineSql]]). */
  private def pqAdcSql(m: Int, tables: String, codes: String): String =
    s"round(${pqAdcFoldSql(m, tables, codes)}, 9)"

  /** Shared ADC→rerank tail: top-`r` by ADC from `adc(query_id, vec_id,
    * adc_score)`, exact cosine from the raw embeddings, top-`k`. */
  private def pqRerankTailSql(r: Int, k: Int): String =
    pqRerankTailSqlExpr(r.toString, k)

  /** Tail with the pool size as a SQL expression — the bq tier derives
    * its corpus-scaled pool from count(*) so its oracle stays literal. */
  private def pqRerankTailSqlExpr(rSql: String, k: Int): String =
    s"""cand AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY adc_score DESC, vec_id ASC) AS rn
             FROM adc) t WHERE rn <= ($rSql)),
           rr AS (SELECT cand.query_id, cand.vec_id, ${cosineSql("c.ev", "q.ev")} AS cosine
                  FROM cand JOIN e c ON c.vec_id = cand.vec_id
                            JOIN e q ON q.vec_id = cand.query_id)
          SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM rr) t WHERE rank <= $k"""

  /** Generated from the session's fitted PCA model (the ivfOracle
    * contract): projections replay through `list_dot_product` over the
    * same float-rounded component literals, the 8-term distance sums in
    * the same left-assoc order, both scores q9-round. */
  private def pcaAnnOracle: Option[String] =
    for (m <- operators.EmbeddingPca.cachedModel;
         p <- operators.Similarity.cachedAnnPlanes) yield {
      val r = operators.Similarity.bucketedRerank(
        operators.Similarity.scaledProbes(p))
      val comps = (0 until 8).map(c => m.components(c).map(_.toFloat).toSeq)
      val coordList = comps.map(w =>
        s"list_dot_product(c.ev, ${doubleArrSql(w)})").mkString(",\n                ")
      val qcoordList = comps.map(w =>
        s"list_dot_product(p.qv, ${doubleArrSql(w)})").mkString(",\n                ")
      val dist = (1 to 8).map(i =>
        s"(pc[$i] - qpc[$i]) * (pc[$i] - qpc[$i])").mkString(" + ")
      s"""WITH ${probedBucketCtesSql(p)},
             prj AS (SELECT p.query_id, c.vec_id, c.ev, p.qv,
                       [$coordList] AS pc,
                       [$qcoordList] AS qpc
                     FROM bkt c JOIN pb p ON c.bucket = p.bucket AND c.vec_id != p.query_id),
             pre AS (SELECT query_id, vec_id, ev, qv,
                       round($dist, 9) AS pca_dist
                     FROM prj),
             cand AS (SELECT query_id, vec_id, ev, qv, pca_dist FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY pca_dist ASC, vec_id ASC) AS pr
               FROM pre) t WHERE pr <= $r),
             rer AS (SELECT query_id, vec_id, pca_dist,
                            ${cosineSql("ev", "qv")} AS cosine
                     FROM cand)
            SELECT query_id, vec_id, pca_dist, cosine, rank FROM (
              SELECT query_id, vec_id, pca_dist, cosine,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM rer) t WHERE rank <= 20"""
    }

  // ANN brute force: exact cosine top-20 per query vector.
  val topk: QueryDef = QueryDef("q_ann_topk", Similarity.bruteForceQuery _, sql(
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                     FROM embeddings WHERE vec_id < 5),
           c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
           scored AS (
             SELECT q.query_id, c.vec_id, ${cosineSql("c.cv", "q.qv")} AS cosine
             FROM c JOIN q ON c.vec_id != q.query_id)
          SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored) t WHERE rank <= 20"""))

  // Filtered ANN: exact top-10 among same-label corpus vectors only
  // (pre-filtering — the predicate applies before scoring).
  val filtered: QueryDef = QueryDef("q_ann_filtered", Similarity.filteredQuery _, sql(
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label
                     FROM embeddings WHERE vec_id < 5),
           c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv, label FROM embeddings),
           scored AS (
             SELECT q.query_id, c.vec_id, ${cosineSql("c.cv", "q.qv")} AS cosine
             FROM c JOIN q ON c.label = q.label AND c.vec_id != q.query_id)
          SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored) t WHERE rank <= 10"""))

  /** (tier, k, floor in micro-units, query) for every approximate tier the
    * recall gate scores. Floors are the tier's documented
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
  val Tiers: Seq[Tier] = Seq(
    // ANN LSH: identical hyperplane buckets (corpus-sized plane count
    // from the query run — the cachedModel contract — same seed), then
    // exact cosine top-20 within the query's bucket.
    Tier("lsh", 20, 100000L, QueryDef("q_ann_lsh", Similarity.lshQuery _,
      planesOracle { p =>
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
               bkt AS (SELECT vec_id, ev, ${operators.Similarity.bucketSql("ev", p, 42L)} AS bucket FROM e),
               q AS (SELECT vec_id AS query_id, ev AS qv, bucket FROM bkt WHERE vec_id < 5),
               scored AS (
                 SELECT q.query_id, c.vec_id, ${cosineSql("c.ev", "q.qv")} AS cosine
                 FROM bkt c JOIN q ON c.bucket = q.bucket AND c.vec_id != q.query_id)
              SELECT query_id, vec_id, cosine, rank FROM (
                SELECT query_id, vec_id, cosine,
                       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
                FROM scored) t WHERE rank <= 20"""
      })),
    // ANN multi-probe: base bucket + single-bit flips of the (probes−1)
    // smallest |margin| planes (ties by plane index, both engines),
    // exact cosine top-20 within the probed buckets — probe mechanics
    // replicated in SQL over the same corpus-sized plane count.
    Tier("multiprobe", 20, 250000L, QueryDef("q_ann_multiprobe", Similarity.multiProbeQuery _,
      planesOracle { p =>
        s"""WITH ${probedBucketCtesSql(p)},
               scored AS (
                 SELECT p.query_id, c.vec_id, ${cosineSql("c.ev", "p.qv")} AS cosine
                 FROM bkt c JOIN pb p ON c.bucket = p.bucket AND c.vec_id != p.query_id)
              SELECT query_id, vec_id, cosine, rank FROM (
                SELECT query_id, vec_id, cosine,
                       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
                FROM scored) t WHERE rank <= 20"""
      })),
    // OCCUPANCY-BOUND Matryoshka oracle: candidates from the SAME probed
    // buckets as the multiprobe oracle (shared CTE prefix), prefix-16
    // cosine first pass (list_slice of the same doubles — the engine
    // slices the float array before widening, identical elements), cut at
    // the occupancy-derived budget, full-cosine rerank. Both scores
    // q9-rounded, both ranks (score, vec_id)-tiebroken. Present only when
    // the query run cached the corpus-sized plane count (the
    // planesOracle convention — no silent fallback).
    Tier("mrl", 20, 250000L, QueryDef("q_ann_mrl", Similarity.mrlQuery _,
      planesOracle { p =>
        val r = operators.Similarity.bucketedRerank(
          operators.Similarity.scaledProbes(p))
        s"""WITH ${probedBucketCtesSql(p)},
             pre AS (
               SELECT p.query_id, c.vec_id, c.ev, p.qv,
                      ${cosineSql("list_slice(c.ev, 1, 16)", "list_slice(p.qv, 1, 16)")} AS prefix_cos
               FROM bkt c JOIN pb p ON c.bucket = p.bucket AND c.vec_id != p.query_id),
             cand AS (SELECT query_id, vec_id, ev, qv, prefix_cos FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY prefix_cos DESC, vec_id ASC) AS pr
               FROM pre) t WHERE pr <= $r),
             rer AS (SELECT query_id, vec_id, prefix_cos,
                            ${cosineSql("ev", "qv")} AS cosine
                     FROM cand)
            SELECT query_id, vec_id, prefix_cos, cosine, rank FROM (
              SELECT query_id, vec_id, prefix_cos, cosine,
                     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM rer) t WHERE rank <= 20"""
      })),
    // pca (occupancy-bound since r14) measures 0.57 at sf0.1 / 0.32 at
    // sf1 / 0.24 at sf3 — an 8-of-64-dim learned subspace over
    // near-isotropic synthetic vectors; the floor documents "far above
    // random pruning", not production-embedding quality
    Tier("pca", 20, 100000L, QueryDef("q_ann_pca", EmbeddingPca.annPcaQuery _,
      () => pcaAnnOracle)),
    Tier("ivf", 20, 500000L, QueryDef("q_ann_ivf", IvfIndex.ivfQuery _,
      ivfOracle { (m, _) =>
        ivfSearchSql(m, "vec_id < 5", 20, operators.IvfIndex.scaledNprobe(m.nlist))
      })),
    // the pre-filtered tier's truth is the exact SAME-LABEL top-10
    // (q_ann_filtered), not the unfiltered baseline — recall measures how
    // much of the eligible subset's true top-k survives the cell probe;
    // measured 0.62 / 0.80 / 0.94 at sf0.01 / sf0.1 / sf1
    // Pre-filtered IVF search: the same probed cells, scoring only
    // same-label corpus vectors (labels re-joined from the raw table).
    Tier("ivf_filtered", 10, 500000L, QueryDef("q_ann_ivf_filtered", IvfIndex.ivfFilteredQuery _,
      ivfOracle { (m, cellsCte) =>
        s"""$cellsCte,
             lbl AS (SELECT vec_id, label FROM embeddings),
             probes AS (SELECT vec_id AS query_id, ev AS qv, cell FROM (
               SELECT vec_id, ev, cell,
                      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
               FROM sc WHERE vec_id < 5) t WHERE rn <= ${operators.IvfIndex.scaledNprobe(m.nlist)}),
             scored AS (
               SELECT p.query_id, c.vec_id, ${cosineSql("c.ev", "p.qv")} AS cosine
               FROM cells c
               JOIN lbl cl ON cl.vec_id = c.vec_id
               JOIN probes p ON c.cell = p.cell AND c.vec_id != p.query_id
               JOIN lbl ql ON ql.vec_id = p.query_id AND ql.label = cl.label)
            SELECT query_id, vec_id, cosine, rank FROM (
              SELECT query_id, vec_id, cosine,
                     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored) t WHERE rank <= 10"""
      })),
    // Flat-ADC PQ oracle (q_ann_pq): encode all vectors, ADC-score every
    // (query, vector) pair, rerank top-50 exactly, keep top-10 — the full
    // searchWithRerank pipeline replayed from the cached codebooks.
    Tier("pq", 10, 400000L, QueryDef("q_ann_pq", PqIndex.pqQuery _,
      () => operators.PqIndex.cachedModel.map { pq =>
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           $pqNormSql,
           ${pqEncSql(pq)},
           qt AS (SELECT vec_id AS query_id,
               ${pqTablesSql(pq)} AS tables
             FROM nq WHERE vec_id < 5),
           adc AS (SELECT q.query_id, c.vec_id,
               ${pqAdcSql(pq.m, "q.tables", "c.codes")} AS adc_score
             FROM enc c JOIN qt q ON c.vec_id != q.query_id),
           ${pqRerankTailSql(r = 50, k = 10)}"""
      })),
    // opq = pq with the eigenvalue-allocated PCA rotation in front (same
    // m/k/r budget). On the near-isotropic fixtures the rotation is
    // neutral — opq tracks pq plus seed/tie noise in EITHER direction
    // (measured opq vs pq: 0.68/0.74 sf0.01, 0.54/0.68 sf0.1, 0.42/0.52
    // sf1, 0.68/0.54 sf3) — so its floor is pq's contract minus that
    // noise band, not pq's floor verbatim (0.42 over 0.40 at sf1 was one
    // reroll from a spurious trip); the rotation's provable win lives in
    // OpqIndexSpec's rank-8 distortion test
    //
    // OPQ oracle (q_ann_opq): the q_ann_pq statement with the learned
    // rotation replayed in front — rq rebinds `nv` to the rotated,
    // float-rounded coordinates (each a `list_dot_product` against one
    // emitted rotation-row literal, the engine's codegen'd kernel), so
    // the unchanged encode/tables/ADC/rerank building blocks read the
    // rotated space without modification.
    Tier("opq", 10, 300000L, QueryDef("q_ann_opq", OpqIndex.opqQuery _,
      () => operators.OpqIndex.cachedModel.map { m =>
        val rotSql = m.rotation.map { rw =>
          s"CAST(CAST(list_dot_product(nv, ${doubleArrSql(rw)}) AS FLOAT) AS DOUBLE)"
        }.mkString("[", ",\n               ", "]")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           $pqNormSql,
           rq AS (SELECT vec_id,
               $rotSql AS nv
             FROM nq),
           ${pqEncSql(m.pq, from = "rq")},
           qt AS (SELECT vec_id AS query_id,
               ${pqTablesSql(m.pq)} AS tables
             FROM rq WHERE vec_id < 5),
           adc AS (SELECT q.query_id, c.vec_id,
               ${pqAdcSql(m.pq.m, "q.tables", "c.codes")} AS adc_score
             FROM enc c JOIN qt q ON c.vec_id != q.query_id),
           ${pqRerankTailSql(r = 50, k = 10)}"""
      })),
    // bq = 1-bit sign codes + Hamming first pass + exact rerank (zero
    // model state, 32× lighter than the floats); floor set after
    // measuring across all four scales
    //
    // Binary-quantization tier: the sign code is 64 static CASE terms
    // summed left-associative ascending (partial sums stay non-negative
    // until the final 1<<63 term, so DuckDB's checked BIGINT addition
    // replays the engine's exact order without an overflow trip); the
    // Hamming first pass reuses the ADC rerank tail (integer hamming vs
    // the engine's BIGINT orders identically). Zero model state — the
    // one ANN tier whose oracle is fully literal.
    Tier("bq", 10, 300000L, QueryDef("q_ann_bq", BqIndex.bqQuery _, sql(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           c AS (SELECT vec_id, ${bqCodeSql("ev")} AS code FROM e),
           q AS (SELECT vec_id AS query_id, code AS qcode FROM c WHERE vec_id < 5),
           adc AS (SELECT q.query_id, c.vec_id,
               CAST(64 - bit_count(xor(c.code, q.qcode)) AS DOUBLE) AS adc_score
             FROM c JOIN q ON c.vec_id != q.query_id),
           ${pqRerankTailSqlExpr(
             "greatest(CAST(100 AS BIGINT), (SELECT count(*) FROM e) // 20)",
             k = 10)}"""))),
    // ivf_bq = the bq first pass restricted to the probed cells (its
    // rescore pool tracks the probed mass) — recall is bounded above by
    // what the probe retains, so the floor is bq's band shaved by the
    // probe loss, the same reasoning as ivfpq vs pq
    //
    // IVF × BQ composed tier: the q_ann_ivf probe (same cells CTE)
    // over literal sign codes (the q_ann_bq encode), Hamming-ranked
    // within probed cells, rescore pool derived from the PROBED mass
    // (count(*)·nprobe/nlist — exact integer, so the pool replays
    // literally), exact-rerank tail shared with the PQ/BQ twins.
    Tier("ivf_bq", 10, 250000L, QueryDef("q_ann_ivf_bq", IvfBqIndex.ivfbqQuery _,
      ivfOracle { (m, cellsCte) =>
        val np = operators.IvfIndex.scaledNprobe(m.nlist)
        s"""$cellsCte,
             co AS (SELECT vec_id, cell, ${bqCodeSql("ev")} AS code FROM cells),
             probes AS (SELECT vec_id AS query_id, cell FROM (
               SELECT vec_id, cell,
                      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
               FROM sc WHERE vec_id < 5) t WHERE rn <= $np),
             qc AS (SELECT vec_id AS query_id, code AS qcode FROM co WHERE vec_id < 5),
             adc AS (SELECT p.query_id, c.vec_id,
                       CAST(64 - bit_count(xor(c.code, q.qcode)) AS DOUBLE) AS adc_score
                     FROM co c
                     JOIN probes p ON c.cell = p.cell AND c.vec_id != p.query_id
                     JOIN qc q ON q.query_id = p.query_id),
             ${pqRerankTailSqlExpr(
               s"greatest(CAST(100 AS BIGINT), " +
                 s"(((SELECT count(*) FROM e) * $np) // ${m.nlist}) // 20)",
               k = 10)}"""
      })),
    // Composed IVF×PQ oracle (q_ann_ivfpq): IVF cell assignment + top-2
    // probe cells exactly as the q_ann_ivf oracle, then PQ encode/ADC
    // restricted to vectors in probed cells, rerank tail as q_ann_pq.
    Tier("ivfpq", 10, 400000L, QueryDef("q_ann_ivfpq", IvfPqIndex.ivfpqQuery _,
      () => operators.IvfPqIndex.cachedModel.map { m =>
        val cent = m.coarse.centroids.zipWithIndex.map { case (c, i) =>
          s"($i, ${doubleArrSql(c)})"
        }.mkString(",\n              ")
        s"""WITH cent(cell, cv) AS (VALUES
              $cent),
           e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           sc AS (SELECT e.vec_id, c.cell, list_dot_product(e.ev, c.cv) AS s
                  FROM e CROSS JOIN cent c),
           cells AS (SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
             FROM sc) t WHERE rn = 1),
           probes AS (SELECT vec_id AS query_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
             FROM sc WHERE vec_id < 5) t WHERE rn <= ${operators.IvfIndex.scaledNprobe(m.coarse.nlist)}),
           $pqNormSql,
           ${pqEncSql(m.pq)},
           qt AS (SELECT vec_id AS query_id,
               ${pqTablesSql(m.pq)} AS tables
             FROM nq WHERE vec_id < 5),
           adc AS (SELECT p.query_id, c.vec_id,
               ${pqAdcSql(m.pq.m, "q.tables", "c.codes")} AS adc_score
             FROM enc c JOIN cells cl ON cl.vec_id = c.vec_id
                        JOIN probes p ON cl.cell = p.cell AND c.vec_id != p.query_id
                        JOIN qt q ON q.query_id = p.query_id),
           ${pqRerankTailSql(r = 50, k = 10)}"""
      })),
    // Residual IVF×PQ oracle (q_ann_ivfpq_res): corpus cells from the raw
    // dot argmax (the engine's `assign`), residual x̂ − c(cell) replayed as
    // FLOAT subtraction (float ops evaluated in double then rounded to
    // float are exact — binary64 carries 2·24+2 bits, so the double
    // rounding is innocuous), residual codes from the residual codebooks,
    // ADC = q̂·c + table fold (rounded to 9 AFTER the sum, like the
    // engine), rerank tail as the global twin.
    Tier("ivfpq_res", 10, 250000L, QueryDef("q_ann_ivfpq_res", IvfPqIndex.ivfpqResidualQuery _,
      () => operators.IvfPqIndex.cachedResidualModel.map { m =>
        val cent = m.coarse.centroids.zipWithIndex.map { case (c, i) =>
          s"($i, ${doubleArrSql(c)})"
        }.mkString(",\n              ")
        val dim = m.pq.dim
        s"""WITH cent(cell, cv) AS (VALUES
              $cent),
           e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           sc AS (SELECT e.vec_id, c.cell, list_dot_product(e.ev, c.cv) AS s
                  FROM e CROSS JOIN cent c),
           cells AS (SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
             FROM sc) t WHERE rn = 1),
           $pqNormSql,
           rv AS (SELECT n.vec_id,
                    list_transform(range($dim), i ->
                      CAST(CAST(n.nv[i+1] - c.cv[i+1] AS FLOAT) AS DOUBLE)) AS nv
                  FROM nq n JOIN cells cl ON cl.vec_id = n.vec_id
                            JOIN cent c ON c.cell = cl.cell),
           ${pqEncSql(m.pq, from = "rv")},
           scq AS (SELECT n.vec_id, c.cell, list_dot_product(n.nv, c.cv) AS s
                   FROM nq n CROSS JOIN cent c WHERE n.vec_id < 5),
           probes AS (SELECT vec_id AS query_id, cell, s AS cell_dot FROM (
             SELECT vec_id, cell, s,
                    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
             FROM scq) t WHERE rn <= ${operators.IvfIndex.scaledNprobe(m.coarse.nlist)}),
           qt AS (SELECT vec_id AS query_id,
               ${pqTablesSql(m.pq)} AS tables
             FROM nq WHERE vec_id < 5),
           adc AS (SELECT p.query_id, c.vec_id,
               round(${pqAdcFoldSql(m.pq.m, "q.tables", "c.codes")} + p.cell_dot, 9) AS adc_score
             FROM enc c JOIN cells cl ON cl.vec_id = c.vec_id
                        JOIN probes p ON cl.cell = p.cell AND c.vec_id != p.query_id
                        JOIN qt q ON q.query_id = p.query_id),
           ${pqRerankTailSql(r = 50, k = 10)}"""
      })),
    // SQ8 oracle (q_ann_sq): per-dimension int8 quantization against the
    // session model's scale literals, dequantize (double product rounded
    // to float — exact replay, see the residual oracle note), asymmetric
    // dot against the normalized query, rerank tail as the PQ twins.
    Tier("sq8", 10, 900000L, QueryDef("q_ann_sq", SqIndex.sqQuery _,
      () => operators.SqIndex.cachedModel.map { m =>
        val dim = m.dim
        val scales =
          s"CAST(${m.scales.map(_.toString).mkString("[", ",", "]")} AS DOUBLE[])"
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           $pqNormSql,
           sl(s) AS (VALUES ($scales)),
           enc AS (SELECT vec_id, list_transform(range($dim), i ->
                     CASE WHEN s[i+1] = 0 THEN 0
                          ELSE CAST(round(nv[i+1] / s[i+1]) AS INTEGER) END) AS codes
                   FROM nq CROSS JOIN sl),
           deq AS (SELECT vec_id, list_transform(range($dim), i ->
                     CAST(CAST(CAST(codes[i+1] AS DOUBLE) * s[i+1] AS FLOAT) AS DOUBLE)) AS dv
                   FROM enc CROSS JOIN sl),
           adc AS (SELECT q.query_id, c.vec_id,
                     round(list_dot_product(c.dv, q.nv), 9) AS adc_score
                   FROM deq c JOIN (SELECT vec_id AS query_id, nv FROM nq
                                    WHERE vec_id < 5) q
                        ON c.vec_id != q.query_id),
           ${pqRerankTailSql(r = 50, k = 10)}"""
      })))

  /** The recall gate over [[Tiers]]: its oracle exists exactly when every
    * tier's (model-dependent) oracle and both truths' do. */
  val recall: QueryDef = QueryDef("q_ann_recall", AnnRecall.recallQuery(_, _, Tiers),
    () => AnnRecall.recallOracleSql(Tiers, topk, filtered))

  val defs: Seq[QueryDef] = Seq(topk, filtered) ++ Tiers.map(_.query) ++ Seq(recall,
    // PCA gate (bound-boolean pattern): engine asserts projected variance
    // == eigenvalue, monotone spectrum, orthonormal components, trace
    // preservation; oracle contributes the keys and TRUE literals.
    QueryDef("q_pca_check", EmbeddingPca.pcaCheckQuery _, sql(
      """SELECT CAST(k AS BIGINT) AS component,
                TRUE AS var_matches_lambda, TRUE AS monotone,
                TRUE AS orthonormal, TRUE AS trace_preserved
          FROM generate_series(1, 8) AS t(k)""")),
    // Per-dimension embedding stats: elements quantized to micro-units
    // BEFORE aggregation (exact integer min/max/sum — order- and
    // tie-rule-free); the lateral range() replays posexplode's 0-based
    // dimension index.
    QueryDef("q_embed_stats", EmbeddingStats.dimStatsQuery _, sql(
      """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
          d AS (SELECT CAST(t.i AS BIGINT) AS dim,
                       list_extract(ev, CAST(t.i + 1 AS INTEGER)) AS x
                FROM e CROSS JOIN range(64) t(i))
          SELECT dim, CAST(count(*) AS BIGINT) AS n,
                 CAST(min(floor(x * 1000000.0 + 0.5)) AS BIGINT) AS min_micro,
                 CAST(max(floor(x * 1000000.0 + 0.5)) AS BIGINT) AS max_micro,
                 CAST(sum(floor(x * 1000000.0 + 0.5)) AS BIGINT) AS sum_micro
          FROM d GROUP BY dim""")),
    // Hard negatives: the filtered-ANN oracle with the label equality
    // negated — true top-10 among different-label vectors.
    QueryDef("q_hard_negatives", Similarity.hardNegativesQuery _, sql(
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label
                     FROM embeddings WHERE vec_id < 5),
           c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv, label FROM embeddings),
           scored AS (
             SELECT q.query_id, c.vec_id, ${cosineSql("c.cv", "q.qv")} AS cosine
             FROM c JOIN q ON c.label != q.label AND c.vec_id != q.query_id)
          SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored) t WHERE rank <= 10""")),
    // MMR diversity rerank: the exact-top-50 relevance pass, then ten
    // unrolled greedy steps (the PageRank-oracle convention) — each step a
    // row_number argmax over `7·rel − 3·pen` (λ = 0.7 in tenths, micro-unit
    // BIGINTs: exact integer arithmetic, vec_id tiebreak) followed by the
    // incremental penalty fold greatest(pen, sim(c, pick)). cand/ce/sims
    // MATERIALIZED: each is re-read by every unrolled step.
    QueryDef("q_mmr_rerank", Similarity.mmrQuery _, sql {
      val (steps, unionPicks) = mmrUnrolledSql(k = 10, lambdaTenths = 7)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id < 5),
           scored AS (SELECT q.query_id, c.vec_id, ${cosineSql("c.ev", "q.qv")} AS cosine
                      FROM e c JOIN q ON c.vec_id != q.query_id),
           cand AS MATERIALIZED (SELECT query_id, vec_id,
                    CAST(floor(cosine * 1000000.0 + 0.5) AS BIGINT) AS rel
                  FROM (SELECT query_id, vec_id, cosine,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
                        FROM scored) t WHERE rank <= 50),
           ce AS MATERIALIZED (SELECT cand.query_id, cand.vec_id, e.ev
                 FROM cand JOIN e ON e.vec_id = cand.vec_id),
           sims AS MATERIALIZED (SELECT a.query_id, a.vec_id AS c, b.vec_id AS o,
                    CAST(floor(${cosineSql("a.ev", "b.ev")} * 1000000.0 + 0.5) AS BIGINT) AS sim
                  FROM ce a JOIN ce b ON a.query_id = b.query_id AND a.vec_id != b.vec_id),
           r0 AS (SELECT query_id, vec_id, rel, CAST(0 AS BIGINT) AS pen FROM cand),
           $steps
          $unionPicks"""
    }),
    // Cluster profiles: population + cosine mass in micro-units per
    // assigned cell (same argmax, same cosine kernel). floor(x·1e6 +
    // 0.5) as BIGINT — scaled-integer half-up — instead of round/
    // DECIMAL: floor is exact IEEE and the multiply/add is the same
    // double op in both engines, so the quantization carries NO
    // tie rule for the engines to disagree on (round(x,6)'s half-up
    // vs half-even on exact 7-digit ties was the r7 driver-only
    // hash-FAIL).
    QueryDef("q_doc_clusters", IvfIndex.clustersQuery _, ivfOracle { (m, cellsCte) =>
      s"""$cellsCte,
             cosd AS (SELECT cl.cell,
                        CAST(floor((${cosineRawSql("cl.ev", "c.cv")}) * 1000000.0 + 0.5)
                             AS BIGINT) AS cc
                      FROM cells cl JOIN cent c USING (cell))
            SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors,
                   CAST(sum(cc) AS BIGINT) AS cos_sum
            FROM cosd GROUP BY cell"""
    }),
    // Outliers: cosine to the OWN centroid below 0.25.
    QueryDef("q_embed_outliers", IvfIndex.outliersQuery _, ivfOracle { (m, cellsCte) =>
      s"""$cellsCte,
             cosd AS (SELECT cl.vec_id, cl.cell,
                             ${cosineSql("cl.ev", "c.cv")} AS centroid_cos
                      FROM cells cl JOIN cent c USING (cell))
            SELECT vec_id, cell, centroid_cos FROM cosd
            WHERE centroid_cos < 0.25"""
    }),
    // Index health: the physical cell layout's populations recomputed
    // from the cached centroids' assignment — footer metadata on the
    // engine side, the cells CTE here; means exact-integer, skew the
    // standard scaled-integer half-up double.
    QueryDef("q_ivf_drift", IvfIndex.driftCheckQuery _, ivfOracle { (m, cellsCte) =>
      s"""$cellsCte,
             cc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors
                    FROM cells GROUP BY 1),
             a AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
                          min(n_vectors) AS min_vectors,
                          max(n_vectors) AS max_vectors,
                          CAST(sum(n_vectors) AS BIGINT) AS s
                   FROM cc)
            SELECT n_cells, min_vectors, max_vectors,
                   (s * 1000000) // n_cells AS mean_micro,
                   CAST(floor(CAST(max_vectors * n_cells AS DOUBLE)
                        / CAST(s AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                     AS skew_micro,
                   CAST(floor(CAST(max_vectors * n_cells AS DOUBLE)
                        / CAST(s AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                     > 2000000 AS drifted
            FROM a"""
    }),
    // The nprobe recall/cost curve: per ladder step, probed-candidate
    // count and recall@20 vs the exact baseline — counts, so the
    // integer arithmetic carries no quantization rule at all.
    QueryDef("q_ivf_probe_curve", IvfIndex.probeCurveQuery _, ivfOracle(probeCurveOracleSql)),
    // The decision the curve exists to produce: cheapest step meeting
    // the 0.9 recall target (fallback: the deepest step) — the oracle
    // re-derives the CHOICE from the replayed curve, so a probe-
    // selection regression flips a driver hash, not a chart.
    QueryDef("q_ivf_autotune", IvfIndex.autotuneQuery _, ivfOracle { (m, cellsCte) =>
      s"""SELECT nprobe, n_candidates, n_matches, recall_micro,
                   (recall_micro >= 900000) AS meets_target
            FROM ( ${probeCurveOracleSql(m, cellsCte)} ) c
            ORDER BY (recall_micro >= 900000) DESC,
                     CASE WHEN recall_micro >= 900000 THEN nprobe
                          ELSE -nprobe END ASC
            LIMIT 1"""
    }),
  )
}
