package graft
package queries

/** DuckDB building blocks shared by several query families' oracles.
  *
  * Each replicates a Spark-side computation in DuckDB SQL exactly (same
  * arithmetic in the same order over doubles ⇒ bit-identical results; see
  * the per-query notes). Generated pieces (stopword lists, hyperplanes)
  * come from the SAME Scala definitions the Spark plans use. */
object OracleSql {

  /** VectorOps.cosine over DOUBLE[] columns: dot/(√na·√nb), 0 on zero norm.
    * UNQUANTIZED — only for call sites that quantize differently (the
    * DECIMAL-sum profiles round at the decimal's own scale). */
  def cosineRawSql(a: String, b: String): String =
    s"""CASE WHEN list_dot_product($a,$a) = 0 OR list_dot_product($b,$b) = 0 THEN 0.0
             ELSE list_dot_product($a,$b)
                  / (sqrt(list_dot_product($a,$a)) * sqrt(list_dot_product($b,$b))) END"""

  /** The cosine kernel QUANTIZED to 9 decimals — the twin of the engine's
    * `round(cosine_sim(..), 9)` (Similarity.q9). Sequential double folds
    * are not guaranteed to agree across engines at the last ulp (seen in
    * round 6), so every cosine that reaches a hash compare,
    * a rank order, or a threshold filter is rounded identically on both
    * sides; 1e-9 is ~7 orders above ulp noise. */
  def cosineSql(a: String, b: String): String =
    s"round(${cosineRawSql(a, b)}, 9)"

  /** Dedup.shingles (distinct word 3-grams, whole-string fallback) over a
    * `text` column. */
  val ShingleSql: String =
    """CASE WHEN len(regexp_split_to_array(lower(text), '\s+')) >= 3
            THEN list_distinct(list_transform(
                   generate_series(1, len(regexp_split_to_array(lower(text), '\s+')) - 2),
                   i -> array_to_string(list_slice(regexp_split_to_array(lower(text), '\s+'), i, i + 2), ' ')))
            ELSE [array_to_string(regexp_split_to_array(lower(text), '\s+'), ' ')] END"""

  /** [[ShingleSql]] generalized to width-`n` windows (same whole-doc
    * fallback for short texts) — mirrors `shingle_hashes(tokens, n)`
    * membership, with string grams standing in for the 64-bit hashes. */
  def ngramSql(n: Int): String =
    s"""CASE WHEN len(regexp_split_to_array(lower(text), '\\s+')) >= $n
            THEN list_distinct(list_transform(
                   generate_series(1, len(regexp_split_to_array(lower(text), '\\s+')) - ${n - 1}),
                   i -> array_to_string(list_slice(regexp_split_to_array(lower(text), '\\s+'), i, i + ${n - 1}), ' ')))
            ELSE [array_to_string(regexp_split_to_array(lower(text), '\\s+'), ' ')] END"""

  /** Positional (non-distinct) width-`n` gram list with the whole-doc
    * fallback — the DuckDB twin of `Dsir.bigrams` (ngramSql minus its
    * `list_distinct`: DSIR counts occurrences, not membership). */
  def posGramSql(n: Int): String =
    s"""CASE WHEN len(regexp_split_to_array(lower(text), '\\s+')) >= $n
            THEN list_transform(
                   generate_series(1, len(regexp_split_to_array(lower(text), '\\s+')) - ${n - 1}),
                   i -> array_to_string(list_slice(regexp_split_to_array(lower(text), '\\s+'), i, i + ${n - 1}), ' '))
            ELSE [array_to_string(regexp_split_to_array(lower(text), '\\s+'), ' ')] END"""

  /** First-24-bits-of-md5 fixed-point bucket (the `assignSplits` /
    * `sampleMixture` hash), over a hex-string column `m`, mod `mod` —
    * DuckDB twin of `conv(substring(md5(..),1,6),16,10) % mod`. */
  def md5BucketSql(m: String, mod: Long): String =
    s"""list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(range(6), i ->
              CAST(strpos('0123456789abcdef', substr($m, CAST(i + 1 AS INTEGER), 1)) - 1 AS BIGINT))),
          (acc, d) -> acc * 16 + d) % $mod"""

  /** 48-bit md5-prefix gram hash over a string expression `g` — DuckDB twin
    * of `conv(substring(md5(g),1,12),16,10)` (TextAnalysis.gramHash48). */
  def md5Hash48Sql(g: String): String =
    // lambda vars deliberately obscure: `g` is spliced into the inner lambda
    // body, so a short name like `i` would capture the caller's variables
    s"""list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(range(12), _hxd ->
              CAST(strpos('0123456789abcdef', substr(md5($g), CAST(_hxd + 1 AS INTEGER), 1)) - 1 AS BIGINT))),
          (_hxa, _hxv) -> _hxa * 16 + _hxv)"""

  /** TextAnalysis.qualityScore as a DuckDB expression (shared by q_quality
    * and q_clean_corpus; double arithmetic matches Spark bit-for-bit). */
  val QualitySql: String =
    """round(
         CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0
              WHEN length(text) BETWEEN 20 AND 5000 THEN 0.5
              ELSE 0.0 END * 0.35
         + least(length(regexp_replace(text, '[^\p{L} ]', '', 'g'))
                 / greatest(CAST(length(text) AS DOUBLE), 1.0) * 1.2, 1.0) * 0.35
         + CASE WHEN CAST(length(text) AS DOUBLE)
                     / greatest(CAST(len(regexp_split_to_array(text, '\s+')) AS DOUBLE), 1.0)
                     BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.3 END * 0.2
         + least(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                 / greatest(CAST(len(regexp_split_to_array(text, '\s+')) AS DOUBLE), 1.0) * 4, 1.0) * 0.1,
         6)"""

  /** `SimHashImpl.fnv1a64` over the UTF-8 bytes of string expression `s`,
    * as an UNSIGNED HUGEINT in [0, 2^64): byte-by-byte list_reduce with
    * xor + modular multiply. (The FNV prime is ~2^40, so the 128-bit
    * product never overflows INT128.) */
  def fnvUSql(s: String): String =
    s"""list_reduce(
          list_prepend(14695981039346656037::HUGEINT,
            list_transform(range(octet_length(encode($s))),
              i -> CAST((strpos('0123456789abcdef', substr(lower(hex(encode($s))), 2*i+1, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(lower(hex(encode($s))), 2*i+2, 1)) - 1) AS HUGEINT))),
          (acc, b) -> (xor(acc, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)"""

  /** Two's-complement reinterpretation: unsigned HUGEINT in [0,2^64) →
    * signed BIGINT (the JVM `Long` the engine computes with). */
  def signedSql(x: String): String =
    s"""CASE WHEN $x >= 9223372036854775808::HUGEINT
             THEN CAST($x - 18446744073709551616::HUGEINT AS BIGINT)
             ELSE CAST($x AS BIGINT) END"""

  /** `(a * c) mod 2^64` for unsigned HUGEINT `a` and a 64-bit constant:
    * split the constant into 32-bit halves so the 128-bit intermediate
    * never overflows INT128 (needed for the splitmix64 constants ~2^63). */
  def mulModSql(a: String, c: java.lang.Long): String = {
    val bh = c >>> 32
    val bl = c & 0xffffffffL
    s"""((($a) * $bl::HUGEINT) % 18446744073709551616::HUGEINT
        + ((($a) * $bh::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT)
        % 18446744073709551616::HUGEINT"""
  }

  /** `MinHashImpl.mix64` (the splitmix64 finalizer) over an unsigned
    * HUGEINT expression. Built from [[mulModSql]]; each stage's input
    * appears twice textually (x and x>>>k), so apply this to a short
    * variable reference, not a computed expression. */
  def mix64Sql(z0: String): String = {
    val z1 = s"(($z0) + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT"
    val z2 = mulModSql(s"xor(($z1), ($z1) // 1073741824::HUGEINT)", 0xbf58476d1ce4e5b9L)
    val z3 = mulModSql(s"xor(($z2), ($z2) // 134217728::HUGEINT)", 0x94d049bb133111ebL)
    s"xor(($z3), ($z3) // 2147483648::HUGEINT)"
  }

  /** BM25 ranking replay (rational idf twin, micro-quantized per-term
    * scores) — shared by q_bm25_search and the q_search_ndcg metric. */
  def bm25OracleSql: String = bm25OracleSqlOver("documents")

  /** The same replay over an arbitrary document relation — q_index_purge
    * passes the corpus MINUS the purged subject, recomputing the ranking
    * the purged index must reproduce. */
  def bm25OracleSqlOver(rel: String): String = {
    val k1 = 1.2; val b = 0.75
    s"""WITH p AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
                  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, ' ')) AS w
                        FROM $rel)
                  GROUP BY 1, 2),
        d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $rel),
        dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY 1),
        ad AS (SELECT CAST(sum(dl) AS DOUBLE) / (SELECT n FROM n) AS avgdl FROM dl),
        s AS (SELECT p.doc_id,
                     CAST(sum(CAST(floor(
                       (((n.n + 1.0) / (d.df + 1)) *
                        ((CAST(p.tf AS DOUBLE) * ${k1 + 1}) /
                         (CAST(p.tf AS DOUBLE) + $k1 *
                          (${1 - b} + $b * (CAST(dl.dl AS DOUBLE) / ad.avgdl)))))
                       * 1000000.0 + 0.5)
                       AS BIGINT)) AS BIGINT) AS score
              FROM p JOIN d USING (term) JOIN dl USING (doc_id)
                   CROSS JOIN n CROSS JOIN ad
              WHERE p.term IN ('merge', 'sort', 'window')
              GROUP BY 1),
        r AS (SELECT doc_id, score,
                     CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                          AS BIGINT) AS rank
              FROM s)
        SELECT doc_id, score, rank FROM r WHERE rank <= 20"""
  }

  /** The unrolled MMR greedy steps (the PageRank-oracle convention):
    * expects CTEs `cand`(query_id, vec_id, rel), `sims`(query_id, c, o,
    * sim) and `r0`(query_id, vec_id, rel, pen=0) to be in scope; returns
    * (step CTEs p1/r1…pk, the UNION ALL of the k picks). λ in tenths —
    * exact integer argmax with the vec_id tiebreak. */
  def mmrUnrolledSql(k: Int, lambdaTenths: Int): (String, String) = {
    val (lam, lamC) = (lambdaTenths, 10 - lambdaTenths)
    val steps = (1 to k).map { t =>
      val prev = s"r${t - 1}"
      val pick =
        s"""p$t AS (SELECT query_id, vec_id, rel FROM (
              SELECT query_id, vec_id, rel,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY $lam*rel - $lamC*pen DESC, vec_id ASC) AS rn
              FROM $prev) t WHERE rn = 1)"""
      val fold = if (t < k)
        s""",
         r$t AS (SELECT r.query_id, r.vec_id, r.rel, greatest(r.pen, s.sim) AS pen
                FROM $prev r
                JOIN p$t p ON p.query_id = r.query_id AND r.vec_id != p.vec_id
                JOIN sims s ON s.query_id = r.query_id AND s.c = r.vec_id AND s.o = p.vec_id)"""
      else ""
      pick + fold
    }.mkString(",\n           ")
    val union = (1 to k).map(t =>
      s"SELECT query_id, vec_id, rel, CAST($t AS BIGINT) AS mmr_rank FROM p$t")
      .mkString("\n          UNION ALL ")
    (steps, union)
  }

  /** `CAST([...] AS DOUBLE[])` literal for a float codeword/centroid —
    * Double.toString round-trips, so DuckDB parses the exact value. */
  def doubleArrSql(c: Seq[Float]): String =
    s"CAST(${c.map(_.toDouble.toString).mkString("[", ",", "]")} AS DOUBLE[])"

  /** The shared IVF assignment CTE prefix for the session's pack model:
    * centroid VALUES, the double-cast corpus, the per-(vector, centroid)
    * scores `sc`, and the argmax cells. Every embedding-side IVF oracle
    * (per-tier queries, the hybrid/RAG sem legs, the leg recall gate)
    * composes on top of this one definition. */
  def cellsCteOf(m: operators.IvfIndex.Model): String = {
    val cent = m.centroids.zipWithIndex.map { case (c, i) =>
      s"($i, ${doubleArrSql(c)})"
    }.mkString(",\n              ")
    s"""WITH cent(cell, cv) AS (VALUES
              $cent),
             e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
             sc AS (SELECT e.vec_id, e.ev, c.cell, list_dot_product(e.ev, c.cv) AS s
                    FROM e CROSS JOIN cent c),
             cells AS (SELECT vec_id, ev, cell FROM (
               SELECT vec_id, ev, cell,
                      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
               FROM sc) t WHERE rn = 1)"""
  }

  /** The probe the PACK-SERVED legs replay at — [[operators.ServingProbe
    * .oracleProbe]]: the session's autotuned decision when unambiguous
    * (queries ran before oracle generation populated it — the
    * cachedModel contract, probe side), the heuristic for sessions that
    * never served a pack search, None (oracle omitted → rows-only) when
    * a multi-corpus JVM holds several pack serving decisions. */
  def packOracleNprobe(m: operators.IvfIndex.Model): Option[Int] =
    operators.ServingProbe.oracleProbe("pack:",
      operators.IvfIndex.scaledNprobe(m.nlist))

  /** One full IVF search statement over the pack model: probe the
    * `nprobe` nearest cells for the queries `queryPred` selects,
    * score within probed cells, rank to `k` — the replay of
    * `IvfIndex.searchIndex` for an arbitrary query cut (q_ann_ivf is the
    * vec_id<5/k=20 instantiation at the heuristic probe; the capstone
    * sem legs are vec_id=0 at the autotuned serving probe). */
  def ivfSearchSql(m: operators.IvfIndex.Model, queryPred: String,
      k: Int, nprobe: Int): String =
    s"""${cellsCteOf(m)},
             probes AS (SELECT vec_id AS query_id, ev AS qv, cell FROM (
               SELECT vec_id, ev, cell,
                      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
               FROM sc WHERE $queryPred) t WHERE rn <= $nprobe),
             scored AS (
               SELECT p.query_id, c.vec_id, ${cosineSql("c.ev", "p.qv")} AS cosine
               FROM cells c JOIN probes p ON c.cell = p.cell AND c.vec_id != p.query_id)
            SELECT query_id, vec_id, cosine, rank FROM (
              SELECT query_id, vec_id, cosine,
                     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored) t WHERE rank <= $k"""
}
