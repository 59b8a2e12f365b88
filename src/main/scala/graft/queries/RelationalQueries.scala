package graft
package queries

import graft.operators._
import graft.queries.QueryDef.sql

/** The reference-parity relational pack and the analytics queries over
  * the TPC-H and event tables: lookups, joins, windows, rollups, sketches
  * and the link-graph iterations. */
object RelationalQueries {

  /** Shared CTE prefix: the event log collapsed to aggregated transition
    * edges (src, dst, w) — the DuckDB twin of [[operators.LinkRank
    * .transitions]]. */
  private def eventEdgesSql: String =
    s"""WITH ev AS (
            SELECT user_id, ts, event_id,
                   CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
            FROM events),
          sq AS (
            SELECT k, lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
            FROM ev),
          e0 AS (
            SELECT src, k AS dst, CAST(count(*) AS BIGINT) AS w
            FROM sq WHERE src IS NOT NULL AND src <> k GROUP BY 1, 2)"""

  /** Unrolled DuckDB twin of [[operators.LinkRank.pageRank]]: the same
    * integer-unit damped power iterations as chained CTEs. Every division
    * is BIGINT floor division on positive operands (`//` here, `div` in
    * the engine — identical), every aggregate is cast back to BIGINT
    * (DuckDB SUM of integers widens to HUGEINT), so the replay is
    * bit-exact at any iteration count. */
  private def linkRankOracleSql(iters: Int): String = {
    val head = eventEdgesSql +
      s""",
          ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM e0 GROUP BY 1),
          e AS (SELECT e0.src, e0.dst, e0.w, ow.wout FROM e0 JOIN ow USING (src)),
          nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
          nn AS (SELECT COUNT(*) AS n FROM nodes),
          bb AS (SELECT CAST((15 * 1000000000000) // (100 * n) AS BIGINT) AS base,
                        CAST(1000000000000 // n AS BIGINT) AS rk0 FROM nn),
          r0 AS (SELECT node, bb.rk0 AS rk FROM nodes CROSS JOIN bb)"""
    val its = (1 to iters).map { i =>
      s""",
          c$i AS (SELECT e.dst AS node,
                         CAST(SUM((((r.rk * 85) // 100) * e.w) // e.wout) AS BIGINT) AS c
                  FROM e JOIN r${i - 1} r ON r.node = e.src GROUP BY 1),
          r$i AS (SELECT nodes.node, bb.base + COALESCE(c$i.c, 0) AS rk
                  FROM nodes CROSS JOIN bb LEFT JOIN c$i ON c$i.node = nodes.node)"""
    }.mkString
    head + its + s"""
          SELECT node AS k, CAST(rk AS BIGINT) AS rank_units FROM r$iters"""
  }

  /** Unrolled DuckDB twin of [[operators.LinkRank.labelPropagation]]:
    * the same synchronous weighted-majority rounds with the same
    * (weight desc, label asc) total tie order. */
  private def labelPropOracleSql(rounds: Int): String = {
    val head = eventEdgesSql +
      """,
          und AS (SELECT v, u, CAST(SUM(w) AS BIGINT) AS w FROM (
                    SELECT src AS v, dst AS u, w FROM e0
                    UNION ALL SELECT dst, src, w FROM e0) t GROUP BY 1, 2),
          nodes AS (SELECT DISTINCT v AS node FROM und),
          l0 AS (SELECT node, node AS label FROM nodes)"""
    val its = (1 to rounds).map { i =>
      s""",
          s$i AS (SELECT und.v AS node, l.label, CAST(SUM(und.w) AS BIGINT) AS s
                  FROM und JOIN l${i - 1} l ON l.node = und.u GROUP BY 1, 2),
          l$i AS (SELECT node, label FROM (
                    SELECT node, label,
                           row_number() OVER (PARTITION BY node
                             ORDER BY s DESC, label ASC) AS rn
                    FROM s$i) t WHERE rn = 1)"""
    }.mkString
    head + its + s"""
          SELECT node AS k, label AS community FROM l$rounds"""
  }

  val defs: Seq[QueryDef] = Seq(
    // the fix is an integer-arithmetic key on h48 (no libm on either side).
    // Served by the RollupRewrite optimizer rule from the materialized
    // (l_returnflag, l_linestatus) rollup — the oracle recomputes from
    // the RAW lineitem rows, so the hash match proves the rewritten
    // plan is semantically identical to the base aggregation.
    QueryDef("q_rollup_served", MaterializedRollup.rollupServedQuery _, sql(
      """SELECT l_returnflag,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
                count(*) AS n_rows,
                min(l_discount) AS min_disc
         FROM lineitem GROUP BY 1""")),
    // Mergeable HLL vocab sketches: the oracle recomputes the exact
    // per-source and union distinct counts and asserts every bound TRUE
    // (sketch-twin pattern, as q_vocab_approx).
    QueryDef("q_sketch_union", Sketches.sketchUnionCheckQuery _, sql(
      """WITH toks AS (SELECT source,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
             FROM documents)
          SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct,
                 CAST(count(*) AS BIGINT) AS n_tokens, TRUE AS within_bound
          FROM toks GROUP BY source
          UNION ALL
          SELECT '(all)', CAST(count(DISTINCT tok) AS BIGINT),
                 CAST(count(*) AS BIGINT), TRUE
          FROM toks""")),
    QueryDef("q_join_estimate", TableStats.joinEstimateQuery _, sql(
      """WITH ls AS (SELECT CAST(count(*) AS BIGINT) AS n_left,
                 CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_left FROM orders),
          rs AS (SELECT CAST(count(*) AS BIGINT) AS n_right,
                 CAST(count(DISTINCT c_custkey) AS BIGINT) AS ndv_right FROM customer),
          a AS (SELECT CAST(count(*) AS BIGINT) AS actual_rows
                FROM orders JOIN customer ON o_custkey = c_custkey)
          SELECT n_left, n_right, ndv_left, ndv_right,
                 CAST((n_left * n_right) // greatest(ndv_left, ndv_right) AS BIGINT)
                   AS est_rows,
                 actual_rows,
                 ((n_left * n_right) // greatest(ndv_left, ndv_right) <= actual_rows * 3
                  AND (n_left * n_right) // greatest(ndv_left, ndv_right) * 3 >= actual_rows)
                   AS within_3x
          FROM ls, rs, a""")),
    // ANALYZE-style column stats: exact twins recomputed, sketch bound
    // asserted TRUE (vocab_approx pattern).
    QueryDef("q_table_stats", TableStats.tableStatsQuery _, sql {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
                   CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
                   TRUE AS ndv_within_bound,
                   CAST(min($c) AS VARCHAR) AS min_value,
                   CAST(max($c) AS VARCHAR) AS max_value
            FROM orders"""
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
        .map(one).mkString("\nUNION ALL ")
    }),
    // Theta-sketch cross-source vocab overlap: the oracle recomputes the
    // exact pairwise intersection/difference/union and asserts the
    // sketch bounds TRUE (sketch-twin pattern).
    QueryDef("q_theta_overlap", Sketches.thetaOverlapCheckQuery _, sql(
      """WITH st AS (SELECT DISTINCT source,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
             FROM documents),
          sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                 FROM st GROUP BY source),
          pr AS (SELECT a.source AS source_a, b.source AS source_b,
                   CAST(count(*) AS BIGINT) AS n_inter
                 FROM st a JOIN st b
                   ON a.tok = b.tok AND a.source < b.source
                 GROUP BY 1, 2),
          allp AS (SELECT x.source AS source_a, y.source AS source_b,
                     x.n AS n_a, y.n AS n_b
                   FROM sz x JOIN sz y ON x.source < y.source)
          SELECT allp.source_a, allp.source_b, allp.n_a, allp.n_b,
                 coalesce(pr.n_inter, 0) AS n_inter,
                 CAST(allp.n_a + allp.n_b - coalesce(pr.n_inter, 0) AS BIGINT)
                   AS n_union,
                 TRUE AS inter_within_bound, TRUE AS diff_within_bound
          FROM allp LEFT JOIN pr
            ON allp.source_a = pr.source_a AND allp.source_b = pr.source_b""")),
    // Heavy hitters via Misra-Gries in its exact regime (vocab ≪ capacity):
    // the oracle recomputes the same top-10 with the same tiebreak.
    QueryDef("q_heavy_hitters", Sketches.heavyHittersQuery _, sql(
      """WITH tok AS (SELECT lang, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
                      FROM documents),
          cnt AS (SELECT lang, tok, count(*) AS cnt FROM tok GROUP BY lang, tok),
          r AS (SELECT lang, tok, cnt,
                  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rank
                FROM cnt)
          SELECT lang, rank, tok, cnt FROM r WHERE rank <= 10""")),
    QueryDef("q_point_lookup", Relational.pointLookup _, sql(
      "SELECT * FROM customer WHERE c_custkey = 42")),
    QueryDef("q_range_scan", Relational.rangeScan _, sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_orderkey >= 100 AND o_orderkey < 200""")),
    QueryDef("q_family_filter", Relational.familyFilter _, sql(
      """SELECT l_returnflag, count(*) AS n_rows,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE l_returnflag IN ('A','R')
         GROUP BY l_returnflag""")),
    QueryDef("q_first_per_group", Relational.firstPerGroup _, sql(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
           SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
           FROM lineitem) t WHERE rn = 1""")),
    QueryDef("q_latest_version", Relational.latestVersion _, sql(
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           FROM orders) t WHERE rn = 1""")),
    QueryDef("q_probe_join", Relational.probeJoin _, sql(
      """SELECT o_orderkey,
                CASE WHEN c_acctbal < 0 THEN 'FAILED' ELSE 'SUCCESS' END AS status,
                CASE WHEN c_acctbal < 0
                     THEN 'NegativeBalanceException, message: account balance below zero'
                END AS error
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey""")),
    QueryDef("q_probe_counters", Relational.probeCounters _, sql(
      """SELECT count(*) AS total_rows,
                count(CASE WHEN NOT coalesce(c_acctbal < 0, FALSE) THEN 1 END) AS success_rows,
                count(CASE WHEN coalesce(c_acctbal < 0, FALSE) THEN 1 END) AS failed_rows
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey""")),
    QueryDef("q_msg_normalize", Relational.msgNormalize _, sql(
      """SELECT doc_id,
                concat('SimulatedException', ', message: ',
                  CASE WHEN trim(concat(source, chr(10), 'lang=', lang)) = '' THEN 'n/a'
                       ELSE regexp_split_to_array(concat(source, chr(10), 'lang=', lang),
                              '\r\n|\r|\n')[1]
                  END) AS error
         FROM documents""")),
    QueryDef("q_ts_override", Relational.tsOverride _, sql(
      """SELECT o_orderkey, TIMESTAMP '2024-06-01 00:00:00' AS o_orderdate, o_totalprice
         FROM orders WHERE o_orderkey < 100""")),
    QueryDef("q_families", Relational.families _, sql(
      "SELECT DISTINCT l_returnflag AS family FROM lineitem")),
    QueryDef("q1_agg", Relational.q1Agg _, sql(
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
                CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
                count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""")),
    QueryDef("q_join_agg", Relational.joinAgg _, sql(
      """SELECT n_name,
                CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""")),
    // Stats-planned join pipeline: the broadcast-vs-shuffle choice is
    // physical only (StatsPlannerSpec asserts the plan shape); the
    // result set is strategy-independent, so the oracle is a plain join.
    QueryDef("q_stats_join", StatsPlanner.statsJoinQuery _, sql(
      """SELECT n_name,
                count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""")),
    QueryDef("q_topk", Relational.topK _, sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""")),
    QueryDef("q_anti_join", Relational.antiJoin _, sql(
      """SELECT c_custkey FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')""")),
    QueryDef("q_semi_join", Relational.semiJoin _, sql(
      """SELECT p_brand, count(*) AS n_parts FROM part p
         WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
         GROUP BY p_brand""")),
    QueryDef("q_json_extract", Relational.jsonExtract _, sql(
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
         FROM events WHERE event_id < 1000""")),
    // Epoch reshuffle: the same seeded affine-permutation keys — the
    // (a_e, b_e) literals come from the identical Lehmer iteration; the
    // affine product exceeds 64 bits, so the engine computes it in exact
    // DECIMAL(38,0) and the oracle in HUGEINT — identical values.
    QueryDef("q_epoch_shuffle", EpochShuffle.epochShuffleQuery _, sql((0 until 3).map { e =>
      val (a, b) = EpochShuffle.epochParams(20260815L, e)
      s"""SELECT CAST($e AS BIGINT) AS epoch, doc_id,
               CAST((CAST(doc_id AS HUGEINT) * $a + $b) % ${EpochShuffle.P} AS BIGINT)
                 AS shuffle_key
          FROM documents"""
    }.mkString("\n          UNION ALL\n          "))),
    // Funnel: the same cumulative-window reachability DP — latest step-k
    // completion time carried forward per user, integer-microsecond
    // windows, per-user depth then domain-sized counts.
    QueryDef("q_funnel", EventAnalytics.funnelQuery _, sql(
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
                     FROM events),
          a AS (SELECT *, max(CASE WHEN event_type = 'view' THEN tus END)
                            OVER w AS r1
                FROM ev WINDOW w AS (PARTITION BY user_id
                  ORDER BY tus, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
          b AS (SELECT *, CASE WHEN event_type = 'click' AND r1 IS NOT NULL
                                    AND tus - r1 <= 3600000000 THEN tus END AS hit2
                FROM a),
          c AS (SELECT *, max(hit2) OVER w AS r2
                FROM b WINDOW w AS (PARTITION BY user_id
                  ORDER BY tus, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
          d AS (SELECT user_id,
                  MAX(CASE WHEN event_type = 'purchase' AND r2 IS NOT NULL
                                AND tus - r2 <= 3600000000 THEN 3
                           WHEN hit2 IS NOT NULL THEN 2
                           WHEN event_type = 'view' THEN 1 ELSE 0 END) AS depth
                FROM c GROUP BY 1)
          SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
                 CAST(count(CASE WHEN depth >= 1 THEN 1 END) AS BIGINT) AS n_users FROM d
          UNION ALL
          SELECT CAST(2 AS BIGINT), 'click',
                 CAST(count(CASE WHEN depth >= 2 THEN 1 END) AS BIGINT) FROM d
          UNION ALL
          SELECT CAST(3 AS BIGINT), 'purchase',
                 CAST(count(CASE WHEN depth >= 3 THEN 1 END) AS BIGINT) FROM d""")),
    // Retention triangle: ISO-week cohorts, (user, week) already
    // distinct so the cell count is a plain count.
    QueryDef("q_retention", EventAnalytics.retentionQuery _, sql(
      """WITH ev AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
                     FROM events),
          c AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY 1),
          a AS (SELECT DISTINCT user_id, week FROM ev)
          SELECT cohort_week,
                 CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT) AS week_offset,
                 CAST(count(*) AS BIGINT) AS n_users
          FROM a JOIN c USING (user_id)
          GROUP BY 1, 2""")),
    // Link-rank: the same five integer-unit power iterations as LinkRank,
    // unrolled as chained CTEs (recursive CTEs disallow aggregation in
    // the recursive term) — floor division everywhere, so the hash match
    // is bit-exact.
    QueryDef("q_link_rank", LinkRank.linkRankQuery _, sql(linkRankOracleSql(5))),
    QueryDef("q_label_prop", LinkRank.labelPropQuery _, sql(labelPropOracleSql(3))),
    // Next-item serving table: top-3 successors per item, exact
    // micro-unit probabilities, full (weight desc, dst asc) tie order.
    QueryDef("q_next_item", LinkRank.nextItemQuery _, sql((eventEdgesSql +
      """,
          ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM e0 GROUP BY 1),
          r AS (SELECT e0.src, e0.dst, e0.w, ow.wout,
                       row_number() OVER (PARTITION BY e0.src
                         ORDER BY e0.w DESC, e0.dst ASC) AS rn
                FROM e0 JOIN ow USING (src))
          SELECT src AS k, dst AS next_k, w,
                 CAST((w * 1000000) // wout AS BIGINT) AS p_micro,
                 CAST(rn AS BIGINT) AS rank
          FROM r WHERE rn <= 3"""))),
    QueryDef("q_event_windows", Relational.eventWindows _, sql(
      """SELECT date_trunc('hour', ts) AS hour, event_type,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""")),
    // Built-in session windows: merge under a STRICT 30-min gap (Spark's
    // session_window rule — the custom q_sessionize merges at ≤ gap),
    // window end = last event + gap; µs-exact gap comparisons, ms floors
    // only on the emitted bounds.
    QueryDef("q_session_window", Relational.sessionWindowQuery _, sql(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type FROM events),
         marked AS (
           SELECT user_id, tus, event_type,
                  CASE WHEN lag(tus) OVER w IS NULL
                         OR tus - lag(tus) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
         sess AS (
           SELECT user_id, tus, event_type,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY tus
                                 ROWS UNBOUNDED PRECEDING) AS sid
           FROM marked)
         SELECT user_id,
                CAST(min(tus) // 1000 AS BIGINT) AS session_start_ms,
                CAST((max(tus) + 1800000000) // 1000 AS BIGINT) AS session_end_ms,
                count(*) AS n_events,
                count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors
         FROM sess GROUP BY user_id, sid""")),
    // Sliding windows: width 1 h, slide 15 min, epoch-aligned — each event
    // belongs to exactly 4 windows with starts floor(t/900s)·900s − k·900s,
    // k ∈ [0, 4); the CROSS JOIN range(4) replays Spark's window expansion.
    QueryDef("q_sliding_windows", Relational.slidingWindows _, sql(
      """WITH x AS (
           SELECT event_type, value,
                  (epoch_us(ts) // 900000000) * 900000 AS base_ms
           FROM events),
         w AS (SELECT event_type, value,
                      CAST(base_ms - CAST(t.k AS BIGINT) * 900000 AS BIGINT)
                        AS window_start_ms
               FROM x CROSS JOIN range(4) t(k))
         SELECT window_start_ms, event_type, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM w GROUP BY 1, 2""")),
    QueryDef("q_sessionize", graft.streaming.Sessionize.sessionQuery _, sql(
      """WITH e AS (
           SELECT user_id, CAST(epoch_us(ts) // 1000 AS BIGINT) AS ts_ms, event_type
           FROM events),
         marked AS (
           SELECT user_id, ts_ms, event_type,
                  CASE WHEN lag(ts_ms) OVER w IS NULL
                         OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
         sess AS (
           SELECT user_id, ts_ms, event_type,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts_ms
                                 ROWS UNBOUNDED PRECEDING) AS sid
           FROM marked)
         SELECT user_id,
                min(ts_ms) AS session_start_ms,
                max(ts_ms) AS session_end_ms,
                count(*) AS n_events,
                count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors
         FROM sess GROUP BY user_id, sid""")),
    // As-of join vs DuckDB's native ASOF LEFT JOIN. Right side is reduced
    // to one version per (customer, date) first so the pick is unique.
    QueryDef("q_asof_join", AsofJoin.asofQuery _, sql(
      """WITH o AS (
           SELECT o_custkey, o_orderdate,
                  max(o_orderkey) AS o_orderkey,
                  arg_max(o_totalprice, o_orderkey) AS o_totalprice
           FROM orders GROUP BY o_custkey, o_orderdate),
         e AS (SELECT event_id, user_id, ts FROM events WHERE event_id < 2000)
         SELECT e.event_id, e.user_id,
                CAST(epoch_us(e.ts) // 1000 AS BIGINT) AS ts_ms,
                o.o_orderkey, o.o_totalprice
         FROM e ASOF LEFT JOIN o
           ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""")),
    // Interval join: events inside the 30-minute half-open window after an
    // error event of the same user, vs DuckDB's plain inequality join.
    // Comparisons go through epoch_us on BOTH sides: the fixture's physical
    // ts encoding has varied across generations (ns, then µs — see
    // Tables.normalizeEventTs), the engine always works at Spark's
    // microsecond precision, and epoch_us is type-generic in DuckDB — the
    // explicit µs floor keeps the two engines' boundary decisions identical
    // whichever encoding the fixture carries.
    QueryDef("q_interval_join", IntervalJoin.intervalQuery _, sql(
      """SELECT e.event_id, e.user_id,
                CAST(epoch_us(e.ts) // 1000 AS BIGINT) AS ts_ms,
                r.event_id AS error_id
         FROM events e
         JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') r
           ON e.user_id = r.user_id
          AND epoch_us(e.ts) >= epoch_us(r.ts)
          AND epoch_us(e.ts) < epoch_us(r.ts) + 1800000000""")),
    // Left-outer interval join: unmatched events carry a null error_id.
    QueryDef("q_interval_left", IntervalJoin.intervalLeftQuery _, sql(
      """SELECT e.event_id, e.user_id,
                CAST(epoch_us(e.ts) // 1000 AS BIGINT) AS ts_ms,
                r.event_id AS error_id
         FROM events e
         LEFT JOIN (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'error') r
           ON e.user_id = r.user_id
          AND epoch_us(e.ts) >= epoch_us(r.ts)
          AND epoch_us(e.ts) < epoch_us(r.ts) + 1800000000""")),
    // Rollup: subtotals + grand total; NULL group markers match 1:1.
    QueryDef("q_rollup", Relational.rollupAgg _, sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),
    // Set operations over key sets with a segment label.
    QueryDef("q_set_ops", Relational.setOps _, sql(
      """WITH recent AS (
           SELECT DISTINCT o_custkey AS custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'),
         negative AS (
           SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0)
         SELECT custkey, 'both' AS segment FROM (SELECT custkey FROM recent INTERSECT SELECT custkey FROM negative) t
         UNION ALL
         SELECT custkey, 'recent_only' FROM (SELECT custkey FROM recent EXCEPT SELECT custkey FROM negative) t
         UNION ALL
         SELECT custkey, 'negative_only' FROM (SELECT custkey FROM negative EXCEPT SELECT custkey FROM recent) t""")),
    // Window-function pack: rank, running decimal sum, lag-based day gaps.
    QueryDef("q_window", Relational.runningTotals _, sql(
      """SELECT o_custkey, o_orderkey,
                row_number() OVER w AS order_rank,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                     OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend,
                date_diff('day', CAST(lag(o_orderdate) OVER w AS DATE),
                          CAST(o_orderdate AS DATE)) AS days_since_prev
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""")),
    // Pivot: daily counts per event type, absent combinations as 0.
    QueryDef("q_pivot", Relational.pivotCounts _, sql(
      """SELECT date_trunc('day', ts) AS day,
                count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
                count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
                count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                count(CASE WHEN event_type = 'view' THEN 1 END) AS view
         FROM events GROUP BY 1""")),
    // Exact interpolated percentiles (the sort-based form).
    QueryDef("q_percentiles", Sketches.percentilesQuery _, sql(
      """SELECT event_type,
                quantile_cont(value, 0.5) AS p50,
                quantile_cont(value, 0.95) AS p95,
                quantile_cont(value, 0.99) AS p99
         FROM events GROUP BY event_type""")),
    // Sketch twins: the sketch OUTPUTS are engine-specific (HLL++/KLL
    // registers have no SQL replay), so the driver-checked contract is
    // the error BOUND — Spark emits exact stats + a within-bound boolean
    // (see Sketches.*CheckQuery), the oracle recomputes the exact side
    // and asserts TRUE. A sketch drifting out of bound = hash mismatch.
    QueryDef("q_percentiles_approx", Sketches.percentilesApproxCheckQuery _, sql(
      """SELECT event_type,
                TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
         FROM events GROUP BY event_type""")),
    QueryDef("q_vocab_approx", Sketches.vocabApproxCheckQuery _, sql(
      """SELECT lang,
                CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
                count(tok) AS n_tokens,
                TRUE AS within_bound
         FROM (SELECT lang, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
               FROM documents) t
         GROUP BY lang""")),
    // the salted shards partition the value space, so the merged counts
    // equal a plain count(DISTINCT) exactly
    QueryDef("q_salted_distinct", Skew.saltedDistinctQuery _, sql(
      s"""SELECT user_id, count(DISTINCT event_type) AS n_distinct
          FROM events GROUP BY user_id""")),
  )
}
