package graft
package queries

import graft.operators._
import graft.queries.OracleSql._
import graft.queries.QueryDef.sql

/** The text and corpus-curation tier: per-document statistics, language
  * and quality scoring, sampling and mixing, decontamination, export
  * audits, BPE training and the learned DSIR/ridge filters. */
object TextQueries {

  /** Staged-SQL twin of `BpeTrainer.trainMerges(numMerges = n)`: the
    * oracle RE-DERIVES every merge from scratch — stage k counts adjacent
    * symbol pairs over the stage-(k−1) word table, takes the same total-
    * order argmax, and applies the merge with a list fold — so a single
    * diverging merge decision anywhere in the engine's training loop
    * flips the hash. CTEs are MATERIALIZED: each stage is referenced
    * twice (argmax chain + next word table), and inlining would double
    * the subtree per stage. */
  private def bpeStagesSql(n: Int): String = {
    val stages = (1 to n).map { k =>
      s"""px$k AS MATERIALIZED (SELECT cnt, syms,
             unnest(generate_series(CAST(1 AS BIGINT), CAST(len(syms) AS BIGINT) - 1)) AS i
           FROM w${k - 1} WHERE len(syms) >= 2),
          p$k AS (SELECT syms[CAST(i AS INTEGER)] AS l, syms[CAST(i + 1 AS INTEGER)] AS r,
                    CAST(sum(cnt) AS BIGINT) AS c
                  FROM px$k GROUP BY 1, 2),
          m$k AS MATERIALIZED (SELECT l, r, c FROM p$k
                  ORDER BY c DESC, l ASC, r ASC LIMIT 1),
          w$k AS MATERIALIZED (SELECT cnt, list_reduce(
                    list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, _bs -> [_bs])),
                    (_ba, _be) -> CASE WHEN len(_ba) > 0 AND _ba[-1] = m$k.l AND _be[1] = m$k.r
                                  THEN list_append(list_slice(_ba, 1, len(_ba) - 1), m$k.l || m$k.r)
                                  ELSE list_append(_ba, _be[1]) END) AS syms
                  FROM w${k - 1}, m$k)"""
    }.mkString(",\n")
    s"""wt AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
                FROM documents) t
          WHERE w <> '' GROUP BY w),
        w0 AS MATERIALIZED (SELECT cnt,
            list_transform(generate_series(CAST(1 AS BIGINT), CAST(length(w) AS BIGINT)),
              _ci -> substr(w, CAST(_ci AS INTEGER), 1)) AS syms FROM wt),
        $stages"""
  }

  private def bpeOracleSql(n: Int): String = {
    val sel = (1 to n).map(k =>
      s"SELECT CAST($k AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, c AS pair_count FROM m$k")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeStagesSql(n)}
        $sel"""
  }

  /** Encode twin: the subword vocabulary the trained merges induce over
    * the corpus — re-derived from scratch through the same stages. */
  private def bpeEncodeOracleSql(n: Int): String =
    s"""WITH ${bpeStagesSql(n)}
        SELECT s AS symbol, CAST(count(*) AS BIGINT) AS n_positions,
               CAST(sum(cnt) AS BIGINT) AS total_count
        FROM (SELECT cnt, unnest(syms) AS s FROM w$n) t
        GROUP BY s"""

  /** TextAnalysis.langId score columns (s_de, s_en, …), generated from the
    * same Stopwords map the Spark plan uses. */
  private def langScoresSql: String =
    operators.TextAnalysis.Stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
      val base = s"len(list_intersect(toks, $lst))"
      val scored =
        if (lang == "zh") base + " + len(regexp_extract_all(text, '[" + "\\x{4e00}-\\x{9fff}" + "]'))"
        else base
      s"$scored AS s_$lang"
    }.mkString(",\n                ")

  /** The ridge filter's five features over `text`, one `xN` column each —
    * shared by the fit and score oracles. */
  private def ridgeFeatSql: String = {
    val xs = Seq(
      "CAST(1 AS BIGINT)",
      """CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)""",
      "CAST(length(text) AS BIGINT)",
      """CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT)""",
      """CAST(length(regexp_replace(text, '[^\p{L} ]', '', 'g')) AS BIGINT)""")
    xs.zipWithIndex.map { case (e, i) => s"$e AS x$i" }.mkString(",\n            ")
  }

  /** Model-dependent ridge oracle (the q_dsir_select oracle contract): recompute
    * the Gram matrix A and moment vector b from raw text, replay the
    * engine's micro-quantized β literals, and evaluate the SAME
    * residual/gate arithmetic — a hash match proves the distributed
    * moment pass and the driver Cramer solve together. HUGEINT carries
    * the A·β products (up to ~1e20, past BIGINT). */
  private def ridgeFitOracle: Option[String] =
    operators.RidgeDistill.cachedModel.map { m =>
      val k = operators.RidgeDistill.K
      val y =
        """(CAST(len(list_distinct(regexp_split_to_array(lower(text), '\s+'))) AS BIGINT)
            * 1000000)
           // CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)"""
      val feat = ridgeFeatSql
      val momentCells =
        (for (i <- 0 until k; j <- i until k)
          yield s"CAST(SUM(CAST(x$i * x$j AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS a_${i}_$j") ++
        (0 until k).map(i => s"CAST(SUM(CAST(x$i * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS b_$i")
      def aCell(i: Int, j: Int) = s"a_${math.min(i, j)}_${math.max(i, j)}"
      def ridged(i: Int, j: Int) =
        if (i == j) s"(CAST(${aCell(i, j)} AS HUGEINT) + ${operators.RidgeDistill.Lambda})"
        else s"CAST(${aCell(i, j)} AS HUGEINT)"
      val rows = (0 until k).map { i =>
        val dot = (0 until k).map(j =>
          s"${ridged(i, j)} * CAST(${m.betaMicro(j)} AS HUGEINT)").mkString(" + ")
        val rowsum = (0 until k).map(j => ridged(i, j)).mkString(" + ")
        s"""SELECT CAST($i AS BIGINT) AS i,
                   CAST(CAST(${aCell(i, i)} AS HUGEINT) AS VARCHAR) AS a_diag,
                   CAST(CAST(b_$i AS HUGEINT) AS VARCHAR) AS b,
                   CAST(${m.betaMicro(i)} AS BIGINT) AS beta_micro,
                   CAST($dot - 1000000 * CAST(b_$i AS HUGEINT) AS VARCHAR) AS resid,
                   ($dot - 1000000 * CAST(b_$i AS HUGEINT)) <= 0
                     AND ($dot - 1000000 * CAST(b_$i AS HUGEINT)) + ($rowsum) > 0 AS ok
            FROM m"""
      }.mkString("\n          UNION ALL\n          ")
      s"""WITH f AS (SELECT
            $feat,
            $y AS y
           FROM documents),
          m AS (SELECT ${momentCells.mkString(",\n                ")} FROM f)
          $rows"""
    }

  /** The ridge score oracle: every document re-scored with the model's
    * micro-quantized β literals (the [[ridgeFitOracle]] contract). */
  private def ridgeScoreOracle: Option[String] =
    operators.RidgeDistill.cachedModel.map { m =>
      val k = operators.RidgeDistill.K
      val feat = ridgeFeatSql
      val score = (0 until k).map(j => s"${m.betaMicro(j)} * x$j").mkString(" + ")
      s"""WITH f AS (SELECT doc_id,
            $feat
           FROM documents)
          SELECT doc_id, CAST($score AS BIGINT) AS score_micro FROM f
          ORDER BY score_micro DESC, doc_id ASC LIMIT 100"""
    }

  val defs: Seq[QueryDef] = Seq(
    // DSIR fit, recomputed from scratch: per-bucket bigram occurrence
    // counts target ('src0') vs raw — the data-dependent half of the
    // importance model; counts → λ is driver arithmetic (DsirSpec).
    QueryDef("q_dsir_weights", Dsir.dsirWeightsQuery _, sql(
      s"""WITH g AS (SELECT CASE WHEN source = '${operators.Dsir.TargetSource}'
                            THEN 1 ELSE 0 END AS is_t,
                 unnest(${posGramSql(2)}) AS _dg
               FROM documents)
          SELECT ${md5Hash48Sql("_dg")} % ${operators.Dsir.DefaultBuckets} AS bucket,
                 CAST(sum(is_t) AS BIGINT) AS tgt_n,
                 CAST(sum(1 - is_t) AS BIGINT) AS raw_n
          FROM g GROUP BY 1""")),
    // Efraimidis-Spirakis weighted sample: md5-48 uniform, nano-quantized
    // ln(u)/w key, top-100 by (key desc, doc_id).
    // ACCEPTED FLAKE RISK (documented, not yet observed): ln() is Spark's
    // libm here and DuckDB's libm in this SQL — a 1-ulp divergence on a
    // float landing within an ulp of a .5 nano boundary would flip
    // key_nano and the differential hash. P(flip) per row ≈ 2^-52/1e-9
    // quantum ≈ 4e-7 across the fixture; the nano quantization + doc_id
    // tiebreak exists precisely to shrink this window. If it ever fires,
    // accepted residual risk: ln() is libm on both engines; the nano
    // quantization means only a value within ~1 ulp of a 1e-9 boundary
    // could flip (none on the fixtures; see weightedSample's scaladoc)
    QueryDef("q_weighted_sample", CorpusPipeline.weightedSampleQuery _, sql(
      s"""WITH k AS (SELECT doc_id, source,
                 CAST(n_chars AS BIGINT) AS weight,
                 CAST(floor(
                   ln((CAST(${md5Hash48Sql("concat(CAST(doc_id AS VARCHAR), 'graft-wrs')")} AS DOUBLE) + 0.5)
                      / 281474976710656.0)
                   / greatest(CAST(n_chars AS DOUBLE), 1.0) * 1e9 + 0.5)
                   AS BIGINT) AS key_nano
               FROM documents),
          r AS (SELECT *, row_number() OVER
                  (ORDER BY key_nano DESC, doc_id ASC) AS rn FROM k)
          SELECT doc_id, source, weight, key_nano,
                 CAST(rn AS BIGINT) AS sample_rank
          FROM r WHERE rn <= 100""")),
    // Distributed BPE training: the oracle re-derives all 6 merges from
    // scratch, stage by stage (see bpeOracleSql).
    QueryDef("q_bpe_merges", BpeTrainer.bpeMergesQuery _, sql(bpeOracleSql(6))),
    QueryDef("q_bpe_encode", BpeTrainer.bpeEncodeQuery _, sql(bpeEncodeOracleSql(6))),
    // Tokenizer fertility per source: the oracle re-derives training AND
    // encoding from scratch (the staged CTEs), reconstructs each word
    // from its symbols, and replays the integer micro-fertility.
    QueryDef("q_bpe_fertility", BpeTrainer.bpeFertilityQuery _, sql(
      s"""WITH ${bpeStagesSql(6)},
          ws AS (SELECT array_to_string(syms, '') AS w,
                   CAST(len(syms) AS BIGINT) AS n_syms FROM w6),
          src AS (SELECT source, w FROM (
                    SELECT source,
                           unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
                    FROM documents) t WHERE w <> '')
          SELECT source, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
                 (CAST(sum(n_syms) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
                   AS fertility_micro
          FROM src JOIN ws USING (w)
          GROUP BY source""")),
    // Dataset-export audit: per-shard manifest stats recomputed (shard
    // assignment replayed via the md5 bucket); the hash match is the
    // engine's file-level integrity check, asserted TRUE.
    QueryDef("q_export_audit", DatasetExport.exportAuditQuery _, sql(
      s"""WITH h AS (SELECT doc_id, text,
                 md5(concat(CAST(doc_id AS VARCHAR), 'graft-shard')) AS m
               FROM documents),
          s AS (SELECT doc_id, text, ${md5BucketSql("m", 8L)} AS shard FROM h)
          SELECT CAST(shard AS BIGINT) AS shard,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
                   AS n_tokens,
                 TRUE AS manifest_ok
          FROM s GROUP BY shard""")),
    // Incremental export: three disjoint micro-batch appends merge to the
    // batch-oblivious truth — the oracle is the SAME full-corpus shard
    // recompute (shard assignment is batch-independent by construction).
    QueryDef("q_export_incr", DatasetExport.exportIncrQuery _, sql(
      s"""WITH h AS (SELECT doc_id, text,
                 md5(concat(CAST(doc_id AS VARCHAR), 'graft-shard')) AS m
               FROM documents),
          s AS (SELECT doc_id, text, ${md5BucketSql("m", 8L)} AS shard FROM h)
          SELECT CAST(shard AS BIGINT) AS shard,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
                   AS n_tokens,
                 TRUE AS manifest_ok
          FROM s GROUP BY shard""")),
    // Unicode normalization twin: DuckDB nfc_normalize + the SAME
    // enumerated control/whitespace classes (see NormalizeImpl).
    QueryDef("q_normalize_text", TextAnalysis.normalizeQuery _, sql {
      val ctrl = """[\x00-\x08\x0E-\x1F\x7F-\x9F]"""
      val ws = """[ \t\n\r\x0B\x0C\xA0\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+"""
      s"""SELECT doc_id,
            trim(regexp_replace(regexp_replace(nfc_normalize(text),
                   '$ctrl', '', 'g'),
                 '$ws', ' ', 'g'), ' ') AS norm_text,
            CAST(length(trim(regexp_replace(regexp_replace(nfc_normalize(text),
                   '$ctrl', '', 'g'),
                 '$ws', ' ', 'g'), ' ')) AS BIGINT) AS n_chars_norm
          FROM documents"""
    }),
    // Snapshot drift: chi-square-style per-band divergence (no logarithm
    // => bit-for-bit oracle-matchable micro terms).
    QueryDef("q_corpus_drift", DriftMonitor.corpusDriftQuery _, sql(
      """WITH d AS (SELECT doc_id,
               least(floor(CAST(n_chars AS DOUBLE) / 100), 19) AS band
             FROM documents),
          ca AS (SELECT band, CAST(count(*) AS BIGINT) AS n_a
                 FROM d WHERE doc_id % 2 = 0 GROUP BY band),
          cb AS (SELECT band, CAST(count(*) AS BIGINT) AS n_b
                 FROM d WHERE doc_id % 2 = 1 GROUP BY band),
          j AS (SELECT coalesce(ca.band, cb.band) AS band,
                  coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
                FROM ca FULL OUTER JOIN cb ON ca.band = cb.band),
          t AS (SELECT CAST(sum(n_a) AS DOUBLE) AS ta,
                       CAST(sum(n_b) AS DOUBLE) AS tb FROM j)
          SELECT CAST(band AS BIGINT) AS band, n_a, n_b,
                 CASE WHEN n_a + n_b = 0 THEN 0
                      ELSE CAST(floor(
                        (CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
                        * (CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
                        / (CAST(n_a AS DOUBLE) / ta + CAST(n_b AS DOUBLE) / tb)
                        * 1000000.0 + 0.5) AS BIGINT) END AS term_micro
          FROM j, t""")),
    // Stats-based join-cardinality estimate vs the actual count — pure
    // integer arithmetic, every column (incl. the gate) recomputed.
    // Corpus snapshot diff: the oracle compares texts directly where the
    // engine compares xxhash64 digests — equal up to hash collisions,
    // the same accepted equivalence as every digest-based oracle here.
    QueryDef("q_corpus_diff", CorpusDiff.diffQuery _, sql(
      """WITH old AS (SELECT doc_id, text, source FROM documents),
          kept AS (SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN 'EDIT ' || text ELSE text END AS text,
                     source
                   FROM documents WHERE doc_id % 13 <> 0),
          nw AS (SELECT * FROM kept
                 UNION ALL SELECT doc_id + 10000000, text, source
                 FROM documents WHERE doc_id % 11 = 0),
          j AS (SELECT coalesce(n.source, o.source) AS source,
                       CASE WHEN o.doc_id IS NULL THEN 'added'
                            WHEN n.doc_id IS NULL THEN 'removed'
                            WHEN o.text <> n.text THEN 'changed'
                            ELSE 'unchanged' END AS change_class,
                       len(regexp_split_to_array(coalesce(n.text, o.text), '\s+')) AS tokens
                FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id)
          SELECT source, change_class, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(tokens) AS BIGINT) AS n_tokens
          FROM j GROUP BY source, change_class""")),
    // Epoch-aware mixing schedule: integer div/% arithmetic on BIGINTs,
    // weight derived from the source's numeric suffix on both sides.
    QueryDef("q_mix_schedule", CorpusPipeline.mixScheduleQuery _, sql(
      """WITH per AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS n_tokens,
                   CAST((CAST(substr(source, 4) AS INT) % 4) + 1 AS BIGINT) AS weight
            FROM documents GROUP BY source),
          tot AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM per)
          SELECT source, n_docs, n_tokens, weight,
                 CAST((1000000 * weight) // wsum AS BIGINT) AS target_tokens,
                 CAST(((1000000 * weight) // wsum) // n_tokens AS BIGINT) AS epochs_full,
                 CAST((((1000000 * weight) // wsum) % n_tokens) * 1000000 // n_tokens AS BIGINT)
                   AS residual_rate_micro
          FROM per, tot""")),
    // Subject-deletion audit: anti-join purge counts + recomputed proof
    // that no in-scope row remains.
    QueryDef("q_purge_audit", Governance.purgeAuditQuery _, sql(
      """WITH k AS (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey % 97 = 0),
          b AS (SELECT CAST(count(*) AS BIGINT) AS n_before FROM orders),
          p AS (SELECT CAST(count(*) AS BIGINT) AS n_after FROM orders
                WHERE o_custkey NOT IN (SELECT c_custkey FROM k))
          SELECT n_before, CAST(n_before - n_after AS BIGINT) AS n_purged,
                 n_after, TRUE AS none_left
          FROM b, p""")),
    QueryDef("q_decontam", CorpusPipeline.decontamQuery _, sql(
      s"""WITH ngr AS (SELECT doc_id, ${ngramSql(4)} AS gs FROM documents),
          ev AS (SELECT DISTINCT unnest(gs) AS g FROM ngr WHERE doc_id % 5 = 3),
          tr AS (SELECT doc_id, unnest(gs) AS g FROM ngr WHERE doc_id % 5 <> 3)
          SELECT tr.doc_id, count(*) AS n_hits
          FROM tr JOIN ev USING (g) GROUP BY tr.doc_id""")),
    // Token-budget selection: per source, prefix cutoff at 700 running
    // tokens in (n_chars desc, doc_id asc) order.
    QueryDef("q_token_budget", CorpusPipeline.tokenBudgetQuery _, sql(
      """WITH t AS (SELECT doc_id, source, n_chars,
            sum(len(regexp_split_to_array(text, '\s+')))
              OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM documents)
          SELECT doc_id, source, n_chars FROM t WHERE cum <= 700""")),
    // Semantic decontamination: same hyperplane buckets (6 planes, seed
    // 42) as the query; per train vector, eval neighbors with cos >= 0.1.
    QueryDef("q_sem_decontam", CorpusPipeline.semDecontamQuery _, sql(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
          bkt AS (SELECT vec_id, ev, ${operators.Similarity.bucketSql("ev", 6, 42L)} AS bucket FROM e),
          tr AS (SELECT vec_id, ev, bucket FROM bkt WHERE vec_id % 5 <> 3),
          evs AS (SELECT vec_id AS eval_id, ev AS eev, bucket FROM bkt WHERE vec_id % 5 = 3),
          hits AS (SELECT tr.vec_id, ${cosineSql("tr.ev", "evs.eev")} AS cosine
                   FROM tr JOIN evs USING (bucket))
          SELECT vec_id, count(*) AS n_hits, max(cosine) AS max_cosine
          FROM hits WHERE cosine >= 0.1 GROUP BY vec_id""")),
    // Corpus bigram LM: add-one-smoothed avg bigram probability per doc,
    // counts and vocabulary recomputed identically.
    QueryDef("q_lm_score", TextAnalysis.lmScoreQuery _, sql(
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk
                      FROM documents),
          bi AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
                 FROM tok, LATERAL unnest(generate_series(1, len(tk) - 1)) AS t(i)
                 WHERE len(tk) >= 2),
          bc AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
          uc AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
          v AS (SELECT count(DISTINCT t) AS v
                FROM (SELECT unnest(tk) AS t FROM tok))
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                 round(avg((c12 + 1.0) / (c1 + v)), 6) AS avg_prob
          FROM bi JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v
          GROUP BY doc_id""")),
    // CCNet head/middle/tail: per-language ntile(3) over the (already
    // oracle-matched) bigram-LM fluency ranking, doc_id tiebreak
    QueryDef("q_ppl_buckets", TextAnalysis.pplBucketsQuery _, sql(
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk
                      FROM documents),
          bi AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
                 FROM tok, LATERAL unnest(generate_series(1, len(tk) - 1)) AS t(i)
                 WHERE len(tk) >= 2),
          bc AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
          uc AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
          v AS (SELECT count(DISTINCT t) AS v
                FROM (SELECT unnest(tk) AS t FROM tok)),
          s AS (SELECT doc_id, round(avg((c12 + 1.0) / (c1 + v)), 6) AS avg_prob
                FROM bi JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v
                GROUP BY doc_id)
          SELECT d.doc_id, d.lang,
                 CAST(ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY s.avg_prob DESC, d.doc_id ASC) AS BIGINT)
                   AS ppl_bucket
          FROM documents d JOIN s ON d.doc_id = s.doc_id""")),
    QueryDef("q_rep_stats", TextAnalysis.repStatsQuery _, sql(
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk
                      FROM documents),
          w AS (SELECT doc_id,
                  list_transform(generate_series(1, greatest(len(tk) - 1, 1)),
                    i -> array_to_string(list_slice(tk, i, i + 1), ' ')) AS ws
                FROM tok)
          SELECT doc_id,
            CAST(len(ws) AS BIGINT) AS n_windows,
            CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
            round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
                        / CAST(len(ws) AS DOUBLE), 6) AS dup_frac,
            round(CAST(list_max(list_transform(list_distinct(ws),
                    x -> len(list_filter(ws, y -> y = x)))) AS DOUBLE)
                  / CAST(len(ws) AS DOUBLE), 6) AS top_frac
          FROM w""")),
    QueryDef("q_text_stats", TextAnalysis.textStatsQuery _, sql(
      """SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
                CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits,
                CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
                CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_nonspace_chars
         FROM documents""")),
    // RAG chunking: identical window/stride arithmetic over the same
    // whitespace token array; DuckDB list slicing clamps at the array end
    // exactly like Spark's `slice`, so short tail chunks agree.
    QueryDef("q_chunk_docs", TextAnalysis.chunkQuery _, sql(
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tk FROM documents),
           n AS (SELECT doc_id, tk,
                   CASE WHEN len(tk) <= 64 THEN 1
                        ELSE CAST(ceil((len(tk) - 64) / 48.0) AS BIGINT) + 1 END AS nc FROM t)
          SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
                 CAST(len(tk[CAST(i*48+1 AS INTEGER):CAST(i*48+64 AS INTEGER)]) AS BIGINT) AS n_tokens,
                 array_to_string(tk[CAST(i*48+1 AS INTEGER):CAST(i*48+64 AS INTEGER)], ' ') AS chunk_text
          FROM n, unnest(range(nc)) AS u(i)""")),
    // Winnowing fingerprints (SIGMOD'03): same positional 3-gram md5-48
    // hashes, same window-4 minima, distinct per doc. Short docs follow the
    // same whole-doc-gram / single-window fallbacks as the Spark plan.
    QueryDef("q_winnow", TextAnalysis.winnowQuery _, sql(
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk FROM documents),
           g AS (SELECT doc_id, tk,
                   CASE WHEN len(tk) >= 3 THEN len(tk) - 2 ELSE 1 END AS ng FROM t),
           h AS (SELECT doc_id, ng, list_transform(range(ng), i ->
                   ${md5Hash48Sql("array_to_string(tk[CAST(i+1 AS INTEGER):CAST(i+3 AS INTEGER)], ' ')")}) AS hs FROM g),
           w AS (SELECT doc_id, list_distinct(list_transform(
                   range(CASE WHEN ng >= 4 THEN ng - 3 ELSE 1 END),
                   j -> list_min(hs[CAST(j+1 AS INTEGER):CAST(j+4 AS INTEGER)]))) AS fps FROM h)
          SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp FROM w""")),
    // Data card: bucket floor/least arithmetic over the stored n_chars
    // column; token totals from the same \s+ split.
    QueryDef("q_corpus_stats", TextAnalysis.corpusStatsQuery _, sql(
      s"""SELECT source,
                 CAST(least(floor(n_chars / 200.0), 9) AS BIGINT) AS len_bucket,
                 count(*) AS n_docs,
                 round(avg(n_chars), 6) AS avg_chars,
                 CAST(sum(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS total_ws_tokens
          FROM documents GROUP BY source, len_bucket""")),
    QueryDef("q_quality", TextAnalysis.qualityQuery _, sql(
      """SELECT doc_id,
                round(
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
                  6) AS quality
         FROM documents""")),
    QueryDef("q_vocab", TextAnalysis.vocabQuery _, sql(
      """SELECT lang,
                CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
                count(tok) AS n_tokens
         FROM (SELECT lang, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
               FROM documents) t
         GROUP BY lang""")),
    QueryDef("q_token_counts", TextAnalysis.tokenCountsQuery _, sql(
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS total_ws_tokens,
                CAST(sum(len(regexp_extract_all(lower(text),
                  '[\p{L}]+|[0-9]+|[^\s\p{L}0-9]'))) AS BIGINT) AS total_bpe_tokens
         FROM documents GROUP BY lang""")),
    // Language ID: same stopword voting + CJK count, argmax with the same
    // lexicographic tiebreak (first lang that is >= all later ones).
    QueryDef("q_lang_id", TextAnalysis.langIdQuery _, sql(
      s"""WITH t AS (
            SELECT doc_id, lang, text,
                   list_distinct(regexp_split_to_array(lower(text), '\\s+')) AS toks
            FROM documents),
          s AS (SELECT doc_id, lang,
                $langScoresSql
                FROM t)
          SELECT doc_id, lang AS labeled_lang,
                 CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                      WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                      WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                      WHEN s_fr >= s_zh THEN 'fr'
                      ELSE 'zh' END AS predicted_lang
          FROM s""")),
    // Hashed-linear quality classifier: per token fnv1a64 → bucket
    // (4096 divides 2^64, so unsigned-mod ≡ Java floorMod of the signed
    // hash) → splitmix64 weight in (-1,1); margin = left fold in doc
    // order (exact double replay), keep = margin > 0.
    QueryDef("q_quality_classifier", TextAnalysis.qualityClassifierQuery _, sql(
      s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS tk
                        FROM documents),
          hs AS (SELECT doc_id, list_transform(tk, t -> ${fnvUSql("t")}) AS hl
                 FROM toks),
          bs AS (SELECT doc_id, list_transform(hl, h -> h % 4096::HUGEINT) AS bl
                 FROM hs),
          ws AS (SELECT doc_id,
                        list_transform(bl, b ->
                          CAST(${signedSql(s"(${mix64Sql("b")})")} AS DOUBLE)
                            / CAST(9223372036854775808.0 AS DOUBLE)) AS wl
                 FROM bs),
          m AS (SELECT doc_id,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), wl),
                                   (a, b) -> a + b) AS margin
                FROM ws)
          SELECT doc_id, margin, margin > 0.0 AS keep FROM m""")),
    // Stratified exact sampling: 7 docs per source in md5(doc_id‖salt)
    // order — membership is a pure function of the ids.
    QueryDef("q_strat_sample", CorpusPipeline.stratSampleQuery _, sql(
      """WITH t AS (SELECT doc_id, source,
            CAST(row_number() OVER (PARTITION BY source
                   ORDER BY md5(concat(CAST(doc_id AS VARCHAR), 'graft-strat')),
                            doc_id) AS BIGINT) AS sample_rank
          FROM documents)
          SELECT doc_id, source, sample_rank FROM t WHERE sample_rank <= 7""")),
    // Power-of-two length buckets via integer bit length — length(bin(n))
    // is exact in both engines, no libm log2 — with the pad-to-bucket-max
    // waste fraction in micro-units (positive integer division).
    QueryDef("q_length_buckets", TextAnalysis.lengthBucketsQuery _, sql(
      s"""WITH t AS (SELECT
                 CAST(length(bin(CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT))) AS BIGINT) AS bucket,
                 CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens
               FROM documents)
          SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(max(n_tokens) AS BIGINT) AS max_tokens,
                 CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                 ((CAST(count(*) AS BIGINT) * max(n_tokens)
                   - CAST(sum(n_tokens) AS BIGINT)) * 1000000)
                  // (CAST(count(*) AS BIGINT) * max(n_tokens)) AS pad_frac_micro
          FROM t GROUP BY bucket""")),
    // temperature-flattened mixture: rates n^(alpha-1)/max, rounded half-up
    // to 6 decimals on BOTH sides, then the shared md5 threshold
    QueryDef("q_temp_sample", CorpusPipeline.tempSampleQuery _, sql(
      s"""WITH d AS (SELECT doc_id,
                  CASE WHEN doc_id < 350 THEN 'big' ELSE source END AS source
                FROM documents),
          cnt AS (SELECT source, count(*) AS n FROM d GROUP BY source),
          mx AS (SELECT max(pow(n, -0.5)) AS mv FROM cnt),
          rt AS (SELECT source, floor(pow(n, -0.5) / mv * 1000000 + 0.5) / 1000000.0 AS rate
                 FROM cnt, mx),
          h AS (SELECT doc_id, source,
                  md5(concat(CAST(doc_id AS VARCHAR), 'graft-temp')) AS m
                FROM d),
          b AS (SELECT doc_id, source, ${md5BucketSql("m", 1000000L)} AS bucket FROM h)
          SELECT doc_id, b.source FROM b JOIN rt USING (source)
          WHERE CAST(bucket AS DOUBLE) < rate * 1000000""")),
    // deterministic shards: md5 bucket mod 8, in-shard order by a second md5
    QueryDef("q_shard_assign", CorpusPipeline.shardQuery _, sql(
      s"""WITH h AS (SELECT doc_id,
                  md5(concat(CAST(doc_id AS VARCHAR), 'graft-shard')) AS m,
                  md5(concat(CAST(doc_id AS VARCHAR), 'graft-shard', '#pos')) AS ok
                FROM documents),
          s AS (SELECT doc_id, ${md5BucketSql("m", 8L)} AS shard, ok FROM h)
          SELECT doc_id, shard,
                 CAST(row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id) AS BIGINT) AS pos
          FROM s""")),
    // weighted mixture sampling: same md5 fixed-point threshold per source
    QueryDef("q_mix_sample", CorpusPipeline.mixSampleQuery _, sql(
      s"""WITH h AS (
            SELECT doc_id, source,
                   md5(concat(CAST(doc_id AS VARCHAR), 'graft-mix')) AS m
            FROM documents),
          b AS (
            SELECT doc_id, source,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(6), i ->
                         CAST(strpos('0123456789abcdef', substr(m, CAST(i + 1 AS INTEGER), 1)) - 1 AS BIGINT))),
                     (acc, d) -> acc * 16 + d) % 1000000 AS bucket
            FROM h)
          SELECT doc_id, source FROM b
          WHERE CAST(bucket AS DOUBLE) <
                (CASE WHEN source = 'src0' THEN 0.25
                      WHEN source = 'src1' THEN 0.5
                      ELSE 1.0 END) * 1000000.0""")),
    // greedy next-fit packing replayed row-by-row as a recursive walk per
    // fixed id-range group (same order, same budget arithmetic)
    QueryDef("q_pack_sequences", CorpusPipeline.packSequencesQuery _, sql(
      s"""WITH RECURSIVE d AS (
            SELECT doc_id,
                   CAST(doc_id // 100 AS BIGINT) AS grp,
                   CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens,
                   row_number() OVER (PARTITION BY (doc_id // 100) ORDER BY doc_id) AS rn
            FROM documents),
          walk AS (
            SELECT grp, rn, doc_id, n_tokens,
                   CAST(0 AS BIGINT) AS bin, n_tokens AS used
            FROM d WHERE rn = 1
            UNION ALL
            SELECT d.grp, d.rn, d.doc_id, d.n_tokens,
                   CASE WHEN w.used + d.n_tokens <= 256 THEN w.bin ELSE w.bin + 1 END,
                   CASE WHEN w.used + d.n_tokens <= 256 THEN w.used + d.n_tokens ELSE d.n_tokens END
            FROM walk w JOIN d ON d.grp = w.grp AND d.rn = w.rn + 1)
          SELECT doc_id, grp, bin, n_tokens FROM walk""")),
    // First-fit-decreasing packing: the same per-group recursive walk,
    // largest-first order, each item into the FIRST open bin that fits —
    // the open-bin load vector rides the recursion as a LIST. DuckDB's
    // list_position returns 0 (not NULL) on a miss; nullif(…, 0) is the
    // not-found guard (a bare IS NULL check re-slices at position 0 and
    // the loads list doubles every miss — measured exponential blowup).
    // MATERIALIZED d: the walk joins it once per step.
    QueryDef("q_pack_ffd", CorpusPipeline.packFfdQuery _, sql {
      val pos = "nullif(list_position(list_transform(w.loads, x -> x + d.n_tokens <= 256), true), 0)"
      s"""WITH RECURSIVE d AS MATERIALIZED (
            SELECT doc_id,
                   CAST(doc_id // 100 AS BIGINT) AS grp,
                   CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens,
                   row_number() OVER (PARTITION BY (doc_id // 100)
                     ORDER BY len(regexp_split_to_array(text, '\\s+')) DESC, doc_id ASC) AS rn
            FROM documents),
          walk AS (
            SELECT grp, rn, doc_id, n_tokens,
                   CAST(1 AS BIGINT) AS bin, [n_tokens] AS loads
            FROM d WHERE rn = 1
            UNION ALL
            SELECT d.grp, d.rn, d.doc_id, d.n_tokens,
                   coalesce(CAST($pos AS BIGINT), len(w.loads) + 1),
                   CASE WHEN $pos IS NULL THEN list_append(w.loads, d.n_tokens)
                        ELSE list_concat(list_concat(
                               w.loads[1:$pos-1], [w.loads[$pos] + d.n_tokens]),
                               w.loads[$pos+1:]) END
            FROM walk w JOIN d ON d.grp = w.grp AND d.rn = w.rn + 1)
          SELECT doc_id, grp, bin, n_tokens FROM walk"""
    }),
    // PII scrub over planted addresses (same regex dialect both engines)
    QueryDef("q_redact", TextAnalysis.redactQuery _, sql(
      s"""WITH planted AS (
            SELECT doc_id,
                   concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                          '@example.com from 10.0.',
                          CAST(doc_id % 256 AS VARCHAR), '.7 today') AS text
            FROM documents)
          SELECT doc_id,
                 regexp_replace(
                   regexp_replace(text, '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
                   '${TextAnalysis.Ipv4Pattern}', '<IP>', 'g') AS text,
                 CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}'))
                    + len(regexp_extract_all(text, '${TextAnalysis.Ipv4Pattern}')) AS BIGINT)
                   AS n_redactions
          FROM planted""")),
    // split = f(md5(doc_id || salt)): first 24 bits mod 100 against the
    // 80/10/10 thresholds — same md5, same hex, same arithmetic as Spark
    QueryDef("q_split_assign", CorpusPipeline.splitAssignQuery _, sql(
      s"""WITH h AS (
            SELECT doc_id,
                   md5(concat(CAST(doc_id AS VARCHAR), 'graft-split')) AS m
            FROM documents),
          b AS (
            SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(6), i ->
                         CAST(strpos('0123456789abcdef', substr(m, CAST(i + 1 AS INTEGER), 1)) - 1 AS BIGINT))),
                     (acc, d) -> acc * 16 + d) % 100 AS bucket
            FROM h)
          SELECT doc_id,
                 CASE WHEN bucket < 80 THEN 'train'
                      WHEN bucket < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM b""")),
    // Source balancing: ≤40 docs per source, lowest ids win; reported as
    // per-source counts with id bounds.
    QueryDef("q_source_cap", CorpusPipeline.sourceCapQuery _, sql(
      """SELECT source, count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM (SELECT source, doc_id,
                      row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r
               FROM documents) t
         WHERE r <= 40 GROUP BY source""")),
    // Fingerprint: md5 digest + min-k sketch of the window hashes —
    // MinHashImpl.shingleHashes (per-token fnv1a64, per-window mix64*31+j
    // chain, final mix64, signed sort, 8-prefix) recomputed in SQL.
    QueryDef("q_fingerprint", TextAnalysis.fingerprintQuery _, sql {
      val step = s"(((${mix64Sql("xor(acc, th[CAST(w AS INTEGER) + CAST(j AS INTEGER) + 1])")}) * 31::HUGEINT)" +
        s" % 18446744073709551616::HUGEINT + j) % 18446744073709551616::HUGEINT"
      s"""WITH toks AS (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS tk FROM documents),
           th AS (SELECT doc_id, text, list_transform(tk, t -> ${fnvUSql("t")}) AS th,
                  CASE WHEN len(tk) >= 3 THEN len(tk) - 2 ELSE 1 END AS n_windows,
                  least(3, len(tk)) AS width FROM toks),
           w0 AS (SELECT doc_id, text, list_transform(range(n_windows), w ->
                    list_reduce(list_prepend(2611923443488327891::HUGEINT,
                        list_transform(range(width), x -> CAST(x AS HUGEINT))),
                      (acc, j) -> $step)) AS zs FROM th),
           w4 AS (SELECT doc_id, text, list_transform(zs, z -> ${mix64Sql("z")}) AS zs FROM w0),
           wins AS (SELECT doc_id, text, list_transform(zs, z -> ${signedSql("z")}) AS whs FROM w4)
          SELECT doc_id, md5(text) AS content_hash,
                 array_to_string(list_transform(list_slice(list_sort(list_distinct(whs)), 1, 8),
                   x -> CAST(x AS VARCHAR)), ',') AS mink_sketch
          FROM wins"""
    }),
    // The composed cleaning pipeline vs ground truth: quality gate, lang
    // allowlist, exact dedup (min id per digest), near-dup drop of the
    // higher id of every pair with exact Jaccard ≥ 0.8.
    QueryDef("q_clean_corpus", CorpusPipeline.cleanQuery _, sql(
      s"""WITH ql AS (SELECT doc_id, $QualitySql AS quality FROM documents),
           f AS (SELECT d.doc_id, d.text, d.lang, d.source, ql.quality
                 FROM documents d JOIN ql USING (doc_id)
                 WHERE ql.quality >= 0.5 AND d.lang IN ('en','es','de','fr','zh')),
           keep AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(text)),
           fd AS (SELECT f.* FROM f JOIN keep USING (doc_id)),
           sh AS (SELECT doc_id, $ShingleSql AS shs FROM fd),
           pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
                       len(list_intersect(a.shs, b.shs)) AS inter,
                       len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)) AS uni
                     FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
           dropped AS (SELECT DISTINCT db AS doc_id FROM pairs
                       WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.8)
          SELECT fd.doc_id, fd.lang, fd.source, fd.quality
          FROM fd ANTI JOIN dropped USING (doc_id)""")),
    // Training-data export capstone: the q_clean_corpus chain, then the
    // q_epoch_shuffle affine key (epoch 0, HUGEINT-exact), the
    // q_export_audit md5 shard bucket, and the q_pack_sequences next-fit
    // walk re-ordered by (shuffle_key, doc_id) within each shard — every
    // stage the already-verified oracle piece; manifest_ok is the engine's
    // file-level digest audit, asserted TRUE (the bound-boolean pattern).
    QueryDef("q_corpus_export_e2e", DatasetExport.corpusExportE2eQuery _, sql {
      val (a, b) = EpochShuffle.epochParams(20260815L, 0)
      s"""WITH RECURSIVE ql AS (SELECT doc_id, $QualitySql AS quality FROM documents),
           f AS (SELECT d.doc_id, d.text, d.lang, d.source, ql.quality
                 FROM documents d JOIN ql USING (doc_id)
                 WHERE ql.quality >= 0.5 AND d.lang IN ('en','es','de','fr','zh')),
           keep AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(text)),
           fd AS (SELECT f.* FROM f JOIN keep USING (doc_id)),
           shg AS (SELECT doc_id, $ShingleSql AS shs FROM fd),
           pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
                       len(list_intersect(a.shs, b.shs)) AS inter,
                       len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)) AS uni
                     FROM shg a JOIN shg b ON a.doc_id < b.doc_id),
           dropped AS (SELECT DISTINCT db AS doc_id FROM pairs
                       WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.8),
           cl AS (SELECT fd.* FROM fd ANTI JOIN dropped USING (doc_id)),
           keyed AS (SELECT doc_id, text,
                       CAST((CAST(doc_id AS HUGEINT) * $a + $b) % ${EpochShuffle.P} AS BIGINT) AS skey,
                       md5(concat(CAST(doc_id AS VARCHAR), 'graft-shard')) AS m
                     FROM cl),
           sharded AS (SELECT doc_id, text, skey, ${md5BucketSql("m", 8L)} AS shard FROM keyed),
           -- MATERIALIZED: the recursive walk joins d once per step; inlined,
           -- DuckDB would re-run the quadratic clean chain every iteration
           d AS MATERIALIZED (SELECT shard, doc_id,
                   CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens,
                   row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS rn
                 FROM sharded),
           walk AS (
             SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS bin, n_tokens AS used
             FROM d WHERE rn = 1
             UNION ALL
             SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
                    CASE WHEN w.used + d.n_tokens <= 256 THEN w.bin ELSE w.bin + 1 END,
                    CASE WHEN w.used + d.n_tokens <= 256 THEN w.used + d.n_tokens ELSE d.n_tokens END
             FROM walk w JOIN d ON d.shard = w.shard AND d.rn = w.rn + 1)
          SELECT CAST(shard AS BIGINT) AS shard,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(max(bin) + 1 AS BIGINT) AS n_seqs,
                 CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                 TRUE AS manifest_ok
          FROM walk GROUP BY shard"""
    }),
    // End-to-end pipeline: the q_clean_corpus chain over the train slice,
    // then the q_decontam gram gate as an anti-join, then the
    // q_split_assign bucket — each stage the already-verified oracle piece.
    QueryDef("q_pipeline_e2e", CorpusPipeline.pipelineE2eQuery _, sql(
      s"""WITH base AS (SELECT * FROM documents WHERE doc_id % 5 <> 3),
           ql AS (SELECT doc_id, $QualitySql AS quality FROM base),
           f AS (SELECT d.doc_id, d.text, d.lang, d.source, ql.quality
                 FROM base d JOIN ql USING (doc_id)
                 WHERE ql.quality >= 0.5 AND d.lang IN ('en','es','de','fr','zh')),
           keep AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(text)),
           fd AS (SELECT f.* FROM f JOIN keep USING (doc_id)),
           sh AS (SELECT doc_id, $ShingleSql AS shs FROM fd),
           pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
                       len(list_intersect(a.shs, b.shs)) AS inter,
                       len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)) AS uni
                     FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
           dropped AS (SELECT DISTINCT db AS doc_id FROM pairs
                       WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.8),
           cl AS (SELECT fd.* FROM fd ANTI JOIN dropped USING (doc_id)),
           ngr AS (SELECT doc_id, ${ngramSql(4)} AS gs FROM documents),
           ev AS (SELECT DISTINCT unnest(gs) AS g FROM ngr WHERE doc_id % 5 = 3),
           contaminated AS (SELECT DISTINCT tr.doc_id
                            FROM (SELECT doc_id, unnest(gs) AS g FROM ngr
                                  WHERE doc_id % 5 <> 3) tr
                            JOIN ev USING (g)),
           dc AS (SELECT cl.* FROM cl ANTI JOIN contaminated USING (doc_id)),
           spl AS (SELECT doc_id,
                     md5(concat(CAST(doc_id AS VARCHAR), 'graft-split')) AS m
                   FROM dc),
           spb AS (SELECT doc_id, ${md5BucketSql("m", 100L)} AS b FROM spl)
          SELECT dc.doc_id, dc.source, dc.quality,
                 CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM dc JOIN spb USING (doc_id)""")),
    // Model-dependent DSIR oracle (the pcaAnnOracle contract): present
    // only when exactly one corpus's model is cached, so the λ literals
    // the oracle replays are the ones that produced the dumped result.
    // The data-dependent half (bucket counts) is recomputed from scratch
    // by the static `q_dsir_weights` oracle; this one re-scores every
    // document with the SAME micro-integer λ the engine folded.
    QueryDef("q_dsir_select", Dsir.dsirSelectQuery _, () =>
      operators.Dsir.cachedModel.map { m =>
        val lamList = m.lambdaMicro.mkString("[", ", ", "]")
        s"""WITH lam AS (SELECT CAST($lamList AS BIGINT[]) AS lv),
             g AS (SELECT doc_id, source, ${posGramSql(2)} AS gs FROM documents),
             s AS (SELECT doc_id, source,
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(gs, _dg ->
                         lv[CAST(${md5Hash48Sql("_dg")} % ${m.nBuckets} + 1 AS INTEGER)])),
                       (_da, _db) -> _da + _db) AS dsir_micro
                   FROM g CROSS JOIN lam)
            SELECT doc_id, source, dsir_micro FROM s
            ORDER BY dsir_micro DESC, doc_id ASC LIMIT 100"""
      }),
    QueryDef("q_ridge_fit", RidgeDistill.ridgeFitQuery _, () => ridgeFitOracle),
    QueryDef("q_ridge_score", RidgeDistill.ridgeScoreQuery _, () => ridgeScoreOracle),
  )
}
