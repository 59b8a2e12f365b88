package graft
package queries

import graft.operators._
import graft.queries.OracleSql._
import graft.queries.QueryDef.sql

/** The deduplication tier: exact, MinHash/SimHash and n-gram near-dup
  * pairs, clusters and survivors, span/suffix removal, the recall gate
  * and the embedding-space semantic dedup. */
object DedupQueries {

  /** Exact-Jaccard all-pairs CTE over `documents`-shaped input `src` —
    * ground truth for the MinHash/LSH near-dup queries. */
  private def jaccardPairsSql(src: String): String =
    s"""sh AS (SELECT doc_id, $ShingleSql AS shs FROM $src),
        pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    len(list_intersect(a.shs, b.shs)) AS inter,
                    len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)) AS uni
                  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_rep_windows", Dedup.repeatedWindowsQuery _, sql(
      s"""WITH ngr AS (SELECT doc_id, ${ngramSql(4)} AS gs FROM documents),
          w AS (SELECT doc_id, unnest(gs) AS g FROM ngr),
          grp AS (SELECT g, count(*) AS n_docs,
                    min(doc_id) AS min_doc, max(doc_id) AS max_doc
                  FROM w GROUP BY g)
          SELECT n_docs, min_doc, max_doc FROM grp WHERE n_docs >= 2""")),
    // Exact substring-span removal (Lee et al. 2021 shape): 4-token
    // windows in >= 2 distinct docs are boilerplate; covered token
    // positions are excised everywhere and the cleaned text re-joined.
    // String grams stand in for the engine's 64-bit window hashes.
    QueryDef("q_span_dedup", Dedup.spanDedupQuery _, sql(
      s"""WITH tk AS (SELECT doc_id,
                 regexp_split_to_array(text, '\\s+') AS t,
                 regexp_split_to_array(lower(text), '\\s+') AS lt
               FROM documents),
          wx AS (SELECT doc_id, lt,
                   unnest(generate_series(1, len(lt) - 3)) AS i
                 FROM tk WHERE len(lt) >= 4),
          wins AS (SELECT doc_id, i,
                     array_to_string(list_slice(lt, i, i + 3), ' ') AS g
                   FROM wx),
          dup AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
                                 FROM wins GROUP BY g) WHERE nd >= 2),
          cov AS (SELECT DISTINCT w.doc_id, w.i + off.o AS ti
                  FROM wins w JOIN dup USING (g)
                  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS o) off),
          pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS p
                  FROM tk),
          tok AS (SELECT doc_id, p, t[p] AS tokn FROM pos),
          kept AS (SELECT tok.doc_id, tok.p, tok.tokn
                   FROM tok LEFT JOIN cov
                     ON tok.doc_id = cov.doc_id AND tok.p = cov.ti
                   WHERE cov.ti IS NULL),
          agg AS (SELECT doc_id,
                    string_agg(tokn, ' ' ORDER BY p) AS cleaned
                  FROM kept GROUP BY doc_id),
          rem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rem
                  FROM cov GROUP BY doc_id)
          SELECT tk.doc_id,
                 CAST(len(tk.t) AS BIGINT) AS n_tokens,
                 coalesce(rem.n_rem, 0) AS n_removed,
                 coalesce(agg.cleaned, '') AS cleaned_text
          FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id
                  LEFT JOIN rem ON tk.doc_id = rem.doc_id""")),
    // Keep-first ALL-length exact substring dedup (Lee et al. suffix
    // semantics via k-gram anchors): windows with >= 2 OCCURRENCES
    // (within-doc repeats count), every occurrence except the global
    // (doc_id, pos)-first is excised. String grams stand in for the
    // engine's 64-bit window hashes; 1-based i orders identically to the
    // engine's 0-based pos.
    QueryDef("q_suffix_dedup", Dedup.suffixDedupQuery _, sql(
      s"""WITH tk AS (SELECT doc_id,
                 regexp_split_to_array(text, '\\s+') AS t,
                 regexp_split_to_array(lower(text), '\\s+') AS lt
               FROM documents),
          wx AS (SELECT doc_id, lt,
                   unnest(generate_series(1, len(lt) - 3)) AS i
                 FROM tk WHERE len(lt) >= 4),
          wins AS (SELECT doc_id, i,
                     array_to_string(list_slice(lt, i, i + 3), ' ') AS g
                   FROM wx),
          rk AS (SELECT doc_id, i,
                   row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn,
                   count(*) OVER (PARTITION BY g) AS cnt
                 FROM wins),
          cov AS (SELECT DISTINCT r.doc_id, r.i + off.o AS ti
                  FROM rk r
                  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS o) off
                  WHERE r.cnt >= 2 AND r.rn > 1),
          pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS p
                  FROM tk),
          tok AS (SELECT doc_id, p, t[p] AS tokn FROM pos),
          kept AS (SELECT tok.doc_id, tok.p, tok.tokn
                   FROM tok LEFT JOIN cov
                     ON tok.doc_id = cov.doc_id AND tok.p = cov.ti
                   WHERE cov.ti IS NULL),
          agg AS (SELECT doc_id,
                    string_agg(tokn, ' ' ORDER BY p) AS cleaned
                  FROM kept GROUP BY doc_id),
          rem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rem
                  FROM cov GROUP BY doc_id)
          SELECT tk.doc_id,
                 CAST(len(tk.t) AS BIGINT) AS n_tokens,
                 coalesce(rem.n_rem, 0) AS n_removed,
                 coalesce(agg.cleaned, '') AS cleaned_text
          FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id
                  LEFT JOIN rem ON tk.doc_id = rem.doc_id""")),
    // Quality-aware survivor per near-dup cluster: ground-truth >= 0.5
    // clusters (as q_dup_clusters), singletons = own doc id, keep =
    // argmax (quality_micro, -doc_id) within cluster.
    QueryDef("q_cluster_survivors", Dedup.clusterSurvivorsQuery _, sql(
      s"""WITH RECURSIVE ${jaccardPairsSql("documents")},
          edges AS (SELECT doc_a, doc_b FROM pairs
                    WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5),
          sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
                  UNION SELECT doc_b, doc_a FROM edges
                  UNION SELECT doc_a, doc_a FROM edges
                  UNION SELECT doc_b, doc_b FROM edges),
          reach AS (SELECT a, b FROM sym
                    UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
          cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
          q AS (SELECT d.doc_id,
                  coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
                  CAST(floor($QualitySql * 1000000.0 + 0.5) AS BIGINT) AS quality_micro
                FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
          SELECT doc_id, cluster_id, quality_micro,
                 (row_number() OVER (PARTITION BY cluster_id
                    ORDER BY quality_micro DESC, doc_id ASC) = 1) AS keep
          FROM q""")),
    // Cluster-aware leakage-safe split: the bucket hashes the near-dup
    // cluster id (ground-truth >= 0.5 clusters, as q_dup_clusters), so
    // near-duplicates never straddle a split boundary.
    QueryDef("q_cluster_split", CorpusPipeline.clusterSplitQuery _, sql(
      s"""WITH RECURSIVE ${jaccardPairsSql("documents")},
          edges AS (SELECT doc_a, doc_b FROM pairs
                    WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5),
          sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
                  UNION SELECT doc_b, doc_a FROM edges
                  UNION SELECT doc_a, doc_a FROM edges
                  UNION SELECT doc_b, doc_b FROM edges),
          reach AS (SELECT a, b FROM sym
                    UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
          cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
          wc AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
                 FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
          h AS (SELECT doc_id, cluster_id,
                  md5(concat(CAST(cluster_id AS VARCHAR), 'graft-split')) AS m
                FROM wc)
          SELECT doc_id, cluster_id,
                 CASE WHEN ${md5BucketSql("m", 100L)} < 80 THEN 'train'
                      WHEN ${md5BucketSql("m", 100L)} < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM h""")),
    // Dedup recall gate over the fixed 1500-doc md5 panel: the oracle
    // recomputes the exact truth count; LSH attains full recall on the
    // fixtures (the invariant the pair oracles assume), so found == truth.
    QueryDef("q_dedup_recall", Dedup.dedupRecallQuery _, sql {
      val sampled =
        s"""(SELECT doc_id, text FROM
              (SELECT doc_id, text,
                 md5(concat(CAST(doc_id AS VARCHAR), 'graft-dr')) AS _m
               FROM documents ORDER BY _m ASC, doc_id ASC LIMIT 1500) t) sdocs"""
      s"""WITH ${jaccardPairsSql(sampled)},
          tr AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM pairs
                 WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5)
          SELECT n_truth, n_truth AS n_found_true,
                 CAST(1000000 AS BIGINT) AS recall_micro,
                 TRUE AS within_floor
          FROM tr"""
    }),
    // Per-doc novelty: fraction of the doc's distinct 4-gram windows seen
    // in no other doc, micro-unit quantized (string grams stand in for
    // the engine's 64-bit window hashes, as in q_rep_windows).
    QueryDef("q_novelty", Dedup.noveltyQuery _, sql(
      s"""WITH ngr AS (SELECT doc_id, ${ngramSql(4)} AS gs FROM documents),
          w AS (SELECT doc_id, unnest(gs) AS g FROM ngr),
          cnt AS (SELECT g, count(*) AS nd FROM w GROUP BY g)
          SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
                 CAST(sum(CASE WHEN cnt.nd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
                 CAST(floor((CAST(sum(CASE WHEN cnt.nd = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                             / CAST(count(*) AS DOUBLE)) * 1000000.0 + 0.5)
                      AS BIGINT) AS novelty_micro
          FROM w JOIN cnt USING (g) GROUP BY w.doc_id""")),
    // C4 line dedup: same 8-token folding, ban lines occurring > 2 times
    // corpus-wide, reassemble in line order.
    QueryDef("q_line_dedup", CorpusPipeline.lineDedupQuery _, sql(
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS tk FROM documents),
          lines AS (SELECT doc_id, i AS pos,
                      array_to_string(list_slice(tk, i*8 + 1, i*8 + 8), ' ') AS line
                    FROM tok, LATERAL unnest(generate_series(0,
                      CAST(ceil(len(tk)/8.0) AS INT) - 1)) AS t(i)),
          banned AS (SELECT line FROM lines GROUP BY line HAVING count(*) > 2)
          SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
          FROM lines WHERE line NOT IN (SELECT line FROM banned)
          GROUP BY doc_id""")),
    // Memorization-risk scan: per-source fraction of corpus-unique
    // positional 8-grams; a unique gram's owner is min(source) inside
    // the per-gram aggregation (count==1 → exactly one owner)
    QueryDef("q_rare_ngrams", Dedup.rareGramsQuery _, sql(
      s"""WITH g AS (SELECT source, unnest(${posGramSql(8)}) AS _g FROM documents),
          h AS (SELECT source, ${md5Hash48Sql("_g")} AS h FROM g),
          t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams
                FROM h GROUP BY 1),
          u0 AS (SELECT h, count(*) AS c, min(source) AS source
                 FROM h GROUP BY 1),
          u AS (SELECT source, CAST(count(*) AS BIGINT) AS n_unique
                FROM u0 WHERE c = 1 GROUP BY 1)
          SELECT t.source, t.n_grams,
                 CAST(coalesce(u.n_unique, 0) AS BIGINT) AS n_unique,
                 CAST(floor(CAST(coalesce(u.n_unique, 0) AS DOUBLE)
                   / CAST(t.n_grams AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS uniq_frac_micro
          FROM t LEFT JOIN u USING (source)""")),
    QueryDef("q_dedup_exact", Dedup.exactQuery _, sql(
      """SELECT md5(text) AS text_hash, count(*) AS n_docs,
                CAST(min(doc_id) AS BIGINT) AS keep_id
         FROM documents GROUP BY md5(text)""")),
    // MinHash/LSH near-dup pairs vs GROUND TRUTH all-pairs exact Jaccard:
    // on the fixtures every qualifying pair collides in ≥1 LSH band
    // (J ≥ 0.5 ⇒ band-collision ~64%+ per band set; the corpus' planted
    // dups sit far above threshold), so the approximate pipeline attains
    // full recall and matches the exact answer. Verified at sf0.01/sf0.001.
    QueryDef("q_minhash_pairs", Dedup.minhashQuery _, sql(
      s"""WITH ${jaccardPairsSql("documents")}
          SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / uni AS jaccard
          FROM pairs WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5""")),
    // Incremental near-dup: two-batch replay covers the full corpus with
    // the same banding + hashed-shingle verify as q_minhash_pairs, so the
    // same ground-truth jaccard SQL is the oracle.
    QueryDef("q_incr_neardup", IncrementalDedup.incrementalQuery _, sql(
      s"""WITH ${jaccardPairsSql("documents")}
          SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / uni AS jaccard
          FROM pairs WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5""")),
    QueryDef("q_ngram_jaccard", Dedup.ngramJaccardQuery _, sql(
      s"""WITH ${jaccardPairsSql("documents")}
          SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / uni AS jaccard
          FROM pairs WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.3""")),
    // Cross-source overlap: exact Jaccard over each source's distinct
    // shingle set (string grams here, 64-bit gram hashes engine-side —
    // counts agree absent collisions, the same contract q_minhash_pairs
    // relies on), micro-unit quantized; the MinHash-signature estimate is
    // Spark-verified against the exact value, surfaced as a boolean.
    QueryDef("q_source_overlap", Dedup.sourceOverlapQuery _, sql(
      s"""WITH sh AS (SELECT source, $ShingleSql AS shs FROM documents),
          sg AS (SELECT DISTINCT source, unnest(shs) AS g FROM sh),
          sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sg GROUP BY 1),
          pr AS (SELECT a.source AS source_a, b.source AS source_b,
                        CAST(count(*) AS BIGINT) AS n_inter
                 FROM sg a JOIN sg b USING (g)
                 WHERE a.source < b.source GROUP BY 1, 2)
          SELECT pr.source_a, pr.source_b, pr.n_inter,
                 CAST(za.n + zb.n - pr.n_inter AS BIGINT) AS n_union,
                 CAST(floor((CAST(pr.n_inter AS DOUBLE)
                             / CAST(za.n + zb.n - pr.n_inter AS DOUBLE))
                            * 1000000.0 + 0.5) AS BIGINT) AS jaccard_micro,
                 TRUE AS mh_within_bound
          FROM pr JOIN sz za ON pr.source_a = za.source
                  JOIN sz zb ON pr.source_b = zb.source""")),
    // connected components over the ground-truth >=0.5 edge set via a
    // recursive transitive closure; cluster id = least reachable doc id
    // (LSH attains full recall on the fixtures, so edge sets agree)
    QueryDef("q_dup_clusters", Dedup.clustersQuery _, sql(
      s"""WITH RECURSIVE ${jaccardPairsSql("documents")},
          edges AS (SELECT doc_a, doc_b FROM pairs
                    WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5),
          sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
                  UNION SELECT doc_b, doc_a FROM edges
                  UNION SELECT doc_a, doc_a FROM edges
                  UNION SELECT doc_b, doc_b FROM edges),
          reach AS (SELECT a, b FROM sym
                    UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
          SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a""")),
    // Per-source near-dup attribution: the q_dup_clusters transitive
    // closure joined back to sources under the keep-min-id survivor rule.
    QueryDef("q_dedup_by_source", Dedup.dedupBySourceQuery _, sql(
      s"""WITH RECURSIVE ${jaccardPairsSql("documents")},
          edges AS (SELECT doc_a, doc_b FROM pairs
                    WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5),
          sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
                  UNION SELECT doc_b, doc_a FROM edges
                  UNION SELECT doc_a, doc_a FROM edges
                  UNION SELECT doc_b, doc_b FROM edges),
          reach AS (SELECT a, b FROM sym
                    UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
          cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
          SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(cl.cluster_id) AS BIGINT) AS n_dup_members,
                 CAST(count(CASE WHEN cl.cluster_id IS NOT NULL
                                      AND cl.cluster_id != d.doc_id THEN 1 END) AS BIGINT)
                   AS n_dropped,
                 (CAST(count(CASE WHEN cl.cluster_id IS NOT NULL
                                       AND cl.cluster_id != d.doc_id THEN 1 END) AS BIGINT)
                  * 1000000) // CAST(count(*) AS BIGINT) AS drop_rate_micro
          FROM documents d LEFT JOIN cl USING (doc_id)
          GROUP BY d.source""")),
    // SimHash near-dup pairs: per-token fnv1a64, 64-lane majority vote
    // (bit b set iff 2·|set| > n), 16-bit banding, Hamming ≤ 3 — the whole
    // fingerprint recomputed from first principles in SQL. All-pairs form:
    // the fixture corpora stay far under simhashPairs' star-routing
    // threshold (maxBucket=1024 per (band,key) bucket — the q_minhash_pairs
    // / q_embed_neardup convention), so the unguarded join IS the whole
    // answer here; the guard's behavior is spec-pinned in DedupSpec.
    QueryDef("q_simhash_pairs", Dedup.simhashQuery _, sql(
      s"""WITH toks AS (
            SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk FROM documents),
           hs AS (SELECT doc_id, list_transform(tk, t -> ${fnvUSql("t")}) AS hs, len(tk) AS n FROM toks),
           sh AS (SELECT doc_id,
             list_reduce(list_prepend(0::HUGEINT,
               list_transform(range(64), b ->
                 CASE WHEN 2 * len(list_filter(hs, h -> (h // power(2::HUGEINT, b)::HUGEINT) % 2 = 1)) > n
                      THEN power(2::HUGEINT, b)::HUGEINT ELSE 0::HUGEINT END)),
               (a, x) -> a + x) AS ux
             FROM hs),
           fp AS (SELECT doc_id, ux, ${signedSql("ux")} AS simhash FROM sh),
           banded AS (SELECT doc_id, ux, simhash, unnest(range(4)) AS band FROM fp),
           keyed AS (SELECT doc_id, simhash, band,
                     CAST((ux // power(2::HUGEINT, band * 16)::HUGEINT) % 65536 AS BIGINT) AS key
                     FROM banded)
          SELECT doc_a, doc_b, CAST(min(hamming) AS INTEGER) AS hamming FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM keyed a JOIN keyed b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id) t
          WHERE hamming <= 3
          GROUP BY doc_a, doc_b""")),
    // Embedding near-dup oracle: buckets regenerated with the SAME
    // corpus-sized plane count the query used ([[operators.Dedup
    // .cachedAutoPlanes]] — Verify runs queries first); every
    // bucket-colliding pair with cosine ≥ 0.1. (Bucketing is recall<1 by
    // design; the oracle replicates the buckets, so this is exact, not a
    // recall assumption. The fixture corpora stay under the star-routing
    // threshold, so the all-pairs form is the whole answer.)
    QueryDef("q_embed_neardup", Dedup.embeddingNearDupQuery _, () =>
      operators.Dedup.cachedAutoPlanes.map { p =>
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           bkt AS (SELECT vec_id, ev, ${operators.Similarity.bucketSql("ev", p, 42L)} AS bucket FROM e)
          SELECT vec_a, vec_b, cosine FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ${cosineSql("a.ev", "b.ev")} AS cosine
            FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) t
          WHERE cosine >= 0.1"""
      }),
    // Semantic clusters: recursive transitive closure over the same edge
    // set, cluster id = least reachable vec id (the q_dup_clusters
    // pattern, on embedding edges).
    QueryDef("q_embed_clusters", Dedup.embeddingClustersQuery _, () =>
      operators.Dedup.cachedAutoPlanes.map { p =>
        s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           bkt AS (SELECT vec_id, ev, ${operators.Similarity.bucketSql("ev", p, 42L)} AS bucket FROM e),
           edges AS (SELECT vec_a, vec_b FROM (
             SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                    ${cosineSql("a.ev", "b.ev")} AS cosine
             FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) t
             WHERE cosine >= 0.1),
           sym AS (SELECT vec_a AS a, vec_b AS b FROM edges
                   UNION SELECT vec_b, vec_a FROM edges
                   UNION SELECT vec_a, vec_a FROM edges
                   UNION SELECT vec_b, vec_b FROM edges),
           reach AS (SELECT a, b FROM sym
                     UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
          SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a"""
      }),
    // SemDeDup applied: same transitive clusters; keep the max-n_chars
    // (tie: least doc_id) representative per cluster plus every
    // unclustered doc.
    QueryDef("q_semantic_dedup", CorpusPipeline.semanticDedupQuery _, () =>
      operators.Dedup.cachedAutoPlanes.map { p =>
        s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           bkt AS (SELECT vec_id, ev, ${operators.Similarity.bucketSql("ev", p, 42L)} AS bucket FROM e),
           edges AS (SELECT vec_a, vec_b FROM (
             SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                    ${cosineSql("a.ev", "b.ev")} AS cosine
             FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) t
             WHERE cosine >= 0.1),
           sym AS (SELECT vec_a AS a, vec_b AS b FROM edges
                   UNION SELECT vec_b, vec_a FROM edges
                   UNION SELECT vec_a, vec_a FROM edges
                   UNION SELECT vec_b, vec_b FROM edges),
           reach AS (SELECT a, b FROM sym
                     UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
           cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
           reps AS (SELECT doc_id FROM (
             SELECT d.doc_id, row_number() OVER (PARTITION BY cl.cluster_id
                      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
             FROM cl JOIN documents d USING (doc_id)) t WHERE rn = 1)
          SELECT d.doc_id, d.source, d.n_chars FROM documents d
          LEFT JOIN cl USING (doc_id)
          WHERE cl.cluster_id IS NULL OR d.doc_id IN (SELECT doc_id FROM reps)"""
      }),
  )
}
