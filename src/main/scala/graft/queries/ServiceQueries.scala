package graft
package queries

import graft.operators._
import graft.queries.OracleSql._
import graft.queries.QueryDef.sql

/** The vector-service lifecycle: index rebuild under drift, the served
  * before/after answer sets, and the rebuild/compaction policy decisions.
  * Each oracle replays the lifecycle relationally from the session's
  * cached centroids. */
object ServiceQueries {

  private def centVals(m: IvfIndex.Model) =
    m.centroids.zipWithIndex.map { case (c, i) =>
      s"($i, ${doubleArrSql(c)})"
    }.mkString(",\n              ")

  /** The skewed delta: every donor-cell vector cloned at each
    * [[operators.IvfIndex.RebuildDeltaOffsets]] offset. */
  private def deltaSelects =
    operators.IvfIndex.RebuildDeltaOffsets.map(off =>
        s"SELECT vec_id + $off AS vec_id, ev FROM donors")
      .mkString("\n             UNION ALL ")

  private def skewSql(t: String) =
    s"CAST(floor(CAST($t.mx * $t.n_cells AS DOUBLE) / CAST($t.s AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"

  private def argmaxCells(sc: String, cols: String) =
    s"""SELECT $cols, cell FROM (
            SELECT $cols, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
            FROM $sc) t WHERE rn = 1"""

  /** q_ivf_rebuild oracle — BOTH lifecycle verdicts recomputed from the
    * session's cached BEFORE (pack) and AFTER (rebuilt) centroids: the
    * skewed delta re-derives relationally (donor cell = largest
    * population under the before model, lowest id tiebreak, cloned per
    * [[operators.IvfIndex.RebuildDeltaOffsets]] offset), the populations
    * re-assign under each model (before: drifted; after: balanced), and
    * the rebuilt index's probe replays for recall@20 against the exact
    * truth over the ingested corpus. A row lost or double-written
    * anywhere in the ingest → rebuild pipeline makes the engine's
    * footer-derived numbers disagree with this replay. Omitted
    * (rows-only check) when either cached model is absent. */
  private def ivfRebuildOracle: Option[String] =
    for (m1 <- operators.IvfIndex.cachedModel;
         m2 <- operators.IvfIndex.cachedRebuiltModel) yield {
      val np2 = operators.IvfIndex.auditNprobe(m2.nlist)
      s"""WITH cent1(cell, cv) AS (VALUES
              ${centVals(m1)}),
            cent2(cell, cv) AS (VALUES
              ${centVals(m2)}),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
            sc1 AS (SELECT e.vec_id, e.ev, c.cell, list_dot_product(e.ev, c.cv) AS s
                    FROM e CROSS JOIN cent1 c),
            cells1 AS MATERIALIZED (${argmaxCells("sc1", "vec_id, ev")}),
            donor AS (SELECT cell FROM (
                SELECT cell, count(*) AS c FROM cells1 GROUP BY 1) d
              ORDER BY c DESC, cell ASC LIMIT 1),
            donors AS (SELECT vec_id, ev FROM cells1
                       WHERE cell = (SELECT cell FROM donor)),
            delta AS ($deltaSelects),
            un AS MATERIALIZED (SELECT vec_id, ev FROM e
                 UNION ALL SELECT vec_id, ev FROM delta),
            scb AS (SELECT u.vec_id, c.cell, list_dot_product(u.ev, c.cv) AS s
                    FROM un u CROSS JOIN cent1 c),
            cellsb AS (${argmaxCells("scb", "vec_id")}),
            popb AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM cellsb GROUP BY 1),
            ab AS (SELECT CAST(count(*) AS BIGINT) AS n_cells, max(n) AS mx,
                          CAST(sum(n) AS BIGINT) AS s FROM popb),
            sca AS (SELECT u.vec_id, u.ev, c.cell, list_dot_product(u.ev, c.cv) AS s
                    FROM un u CROSS JOIN cent2 c),
            cellsa AS MATERIALIZED (${argmaxCells("sca", "vec_id, ev")}),
            popa AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM cellsa GROUP BY 1),
            aa AS (SELECT CAST(count(*) AS BIGINT) AS n_cells, max(n) AS mx,
                          CAST(sum(n) AS BIGINT) AS s FROM popa),
            probes AS (SELECT vec_id AS query_id, ev AS qv, cell FROM (
                SELECT vec_id, ev, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
                FROM sca WHERE vec_id < 5) t WHERE rn <= $np2),
            got AS (SELECT query_id, vec_id FROM (
                SELECT p.query_id, a.vec_id,
                       row_number() OVER (PARTITION BY p.query_id
                         ORDER BY ${cosineSql("a.ev", "p.qv")} DESC, a.vec_id ASC) AS rank
                FROM cellsa a JOIN probes p ON a.cell = p.cell AND a.vec_id != p.query_id) t
              WHERE rank <= 20),
            truth AS (SELECT query_id, vec_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id,
                       row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY ${cosineSql("c.ev", "q.ev")} DESC, c.vec_id ASC) AS rank
                FROM un c JOIN e q ON q.vec_id < 5 AND c.vec_id != q.vec_id) t
              WHERE rank <= 20),
            nm AS (SELECT CAST(count(*) AS BIGINT) AS n_matches
                   FROM got JOIN truth USING (query_id, vec_id)),
            nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM truth)
           SELECT ab.s AS n_total,
                  ${skewSql("ab")} AS before_skew_micro,
                  ${skewSql("ab")} > 2000000 AS before_drifted,
                  aa.n_cells AS after_n_cells,
                  ${skewSql("aa")} AS after_skew_micro,
                  ${skewSql("aa")} > 2000000 AS after_drifted,
                  nm.n_matches,
                  nm.n_matches * 1000000 // nt.n AS recall_micro,
                  nm.n_matches * 1000000 // nt.n >= 500000 AS within_floor
           FROM ab CROSS JOIN aa CROSS JOIN nm CROSS JOIN nt"""
    }

  /** q_vector_service oracle — the SERVICE lifecycle replayed from the
    * session's cached before/after centroids (the q_ivf_rebuild replay
    * plus the two SERVED legs): the skewed delta re-derives relationally,
    * the drift verdicts recompute under each model, and BOTH served
    * answer sets replay as cell-probed searches (before: cent1 over the
    * drifted union at the before audit probe; after: cent2 over the
    * rebuilt layout) intersected with the shared exact truth. The three
    * fingerprint verdicts are stated as the CONTRACT (literal TRUE — the
    * vocab-sketch bound-boolean pattern): an engine-side stamp failure
    * flips the hash. Omitted (rows-only) when the session never ran the
    * audit. */
  private def vectorServiceOracle: Option[String] =
    graft.streaming.VectorService.cachedServiceAudit.map { a =>
      val (m1, m2) = (a.before, a.after)
      val npB = operators.IvfIndex.auditNprobe(m1.nlist)
      val npA = operators.IvfIndex.auditNprobe(m2.nlist)
      def servedLeg(cells: String, sc: String, np: Int) =
        s"""SELECT query_id, vec_id FROM (
              SELECT p.query_id, a.vec_id,
                     row_number() OVER (PARTITION BY p.query_id
                       ORDER BY ${cosineSql("a.ev", "p.qv")} DESC, a.vec_id ASC) AS rank
              FROM $cells a JOIN (
                SELECT vec_id AS query_id, ev AS qv, cell FROM (
                  SELECT vec_id, ev, cell,
                         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
                  FROM $sc WHERE vec_id < 5) t WHERE rn <= $np) p
                ON a.cell = p.cell AND a.vec_id != p.query_id) t
            WHERE rank <= 20"""
      s"""WITH cent1(cell, cv) AS (VALUES
              ${centVals(m1)}),
            cent2(cell, cv) AS (VALUES
              ${centVals(m2)}),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
            sc1 AS (SELECT e.vec_id, e.ev, c.cell, list_dot_product(e.ev, c.cv) AS s
                    FROM e CROSS JOIN cent1 c),
            cells1 AS MATERIALIZED (${argmaxCells("sc1", "vec_id, ev")}),
            donor AS (SELECT cell FROM (
                SELECT cell, count(*) AS c FROM cells1 GROUP BY 1) d
              ORDER BY c DESC, cell ASC LIMIT 1),
            donors AS (SELECT vec_id, ev FROM cells1
                       WHERE cell = (SELECT cell FROM donor)),
            delta AS ($deltaSelects),
            un AS MATERIALIZED (SELECT vec_id, ev FROM e
                 UNION ALL SELECT vec_id, ev FROM delta),
            scb AS (SELECT u.vec_id, u.ev, c.cell, list_dot_product(u.ev, c.cv) AS s
                    FROM un u CROSS JOIN cent1 c),
            cellsb AS MATERIALIZED (${argmaxCells("scb", "vec_id, ev")}),
            popb AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM cellsb GROUP BY 1),
            ab AS (SELECT CAST(count(*) AS BIGINT) AS n_cells, max(n) AS mx,
                          CAST(sum(n) AS BIGINT) AS s FROM popb),
            sca AS (SELECT u.vec_id, u.ev, c.cell, list_dot_product(u.ev, c.cv) AS s
                    FROM un u CROSS JOIN cent2 c),
            cellsa AS MATERIALIZED (${argmaxCells("sca", "vec_id, ev")}),
            truth AS MATERIALIZED (SELECT query_id, vec_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id,
                       row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY ${cosineSql("c.ev", "q.ev")} DESC, c.vec_id ASC) AS rank
                FROM un c JOIN e q ON q.vec_id < 5 AND c.vec_id != q.vec_id) t
              WHERE rank <= 20),
            got_b AS (${servedLeg("cellsb", "scb", npB)}),
            got_a AS (${servedLeg("cellsa", "sca", npA)}),
            nmb AS (SELECT CAST(count(*) AS BIGINT) AS n_matches_before
                    FROM got_b JOIN truth USING (query_id, vec_id)),
            nma AS (SELECT CAST(count(*) AS BIGINT) AS n_matches_after
                    FROM got_a JOIN truth USING (query_id, vec_id)),
            nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM truth)
           SELECT ab.s AS n_total,
                  ${skewSql("ab")} AS before_skew_micro,
                  ${skewSql("ab")} > 2000000 AS before_drifted,
                  TRUE AS fp_before_ok,
                  TRUE AS fp_after_ok,
                  TRUE AS fp_changed,
                  nmb.n_matches_before,
                  nmb.n_matches_before * 1000000 // nt.n AS before_recall_micro,
                  nma.n_matches_after,
                  nma.n_matches_after * 1000000 // nt.n AS after_recall_micro,
                  nma.n_matches_after * 1000000 // nt.n >= 500000 AS within_floor
           FROM ab CROSS JOIN nmb CROSS JOIN nma CROSS JOIN nt"""
    }

  /** q_service_policy oracle — both policy decisions re-derived from the
    * cached pack centroids: assignments replay relationally (the
    * q_vector_service delta construction, shared), the health numbers
    * are integer-exact, and the CHOICE evaluates the SAME comparison /
    * CASE-ladder text the engine row does
    * ([[graft.streaming.VectorService.nlistLadderSql]] emitted
    * verbatim). Omitted (rows-only) when the session never trained the
    * pack model. */
  private def servicePolicyOracle: Option[String] =
    operators.IvfIndex.cachedModel.map { m =>
      def policySelect(t: String, name: String, targetCell: Long = 256L) = {
        val mean = s"($t.s * 1000000) // $t.n_cells"
        val occ = s"$mean > ${targetCell * 1000000L}"
        s"""SELECT '$name' AS index_name, $t.n_cells, $t.s AS n_total,
               $mean AS mean_micro,
               ${skewSql(t)} AS skew_micro,
               ${skewSql(t)} > 2000000 AS skew_exceeded,
               $occ AS occupancy_exceeded,
               (${skewSql(t)} > 2000000) OR ($occ) AS rebuild,
               ${graft.streaming.VectorService.nlistLadderSql(s"$t.s", targetCell)} AS next_nlist
             FROM $t"""
      }
      s"""${cellsCteOf(m)},
            pop1 AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
                     FROM cells GROUP BY 1),
            s1 AS (SELECT CAST(count(*) AS BIGINT) AS n_cells, max(n) AS mx,
                          CAST(sum(n) AS BIGINT) AS s FROM pop1),
            donor AS (SELECT cell FROM pop1 ORDER BY n DESC, cell ASC LIMIT 1),
            donors AS (SELECT vec_id, ev FROM cells
                       WHERE cell = (SELECT cell FROM donor)),
            delta AS ($deltaSelects),
            un AS (SELECT vec_id, ev FROM e
                   UNION ALL SELECT vec_id, ev FROM delta),
            scd AS (SELECT u.vec_id, c.cell, list_dot_product(u.ev, c.cv) AS s
                    FROM un u CROSS JOIN cent c),
            cellsd AS (SELECT vec_id, cell FROM (
              SELECT vec_id, cell,
                     row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
              FROM scd) t WHERE rn = 1),
            pop2 AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
                     FROM cellsd GROUP BY 1),
            s2 AS (SELECT CAST(count(*) AS BIGINT) AS n_cells, max(n) AS mx,
                          CAST(sum(n) AS BIGINT) AS s FROM pop2)
           ${policySelect("s1", "pack")}
           UNION ALL
           ${policySelect("s2", "drifted")}
           UNION ALL
           ${policySelect("s1", "underladdered",
             graft.streaming.VectorService.UnderladderedTargetCell)}"""
    }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_ivf_rebuild", IvfIndex.rebuildAuditQuery _, () => ivfRebuildOracle),
    QueryDef("q_vector_service", graft.streaming.VectorService.serviceAuditQuery _,
      () => vectorServiceOracle),
    QueryDef("q_service_policy", graft.streaming.VectorService.servicePolicyQuery _,
      () => servicePolicyOracle),
    // q_compact_policy: the fold-decision lifecycle. The construction
    // puts each vec_id%4 group of the embeddings ids in its own batch
    // slice, so the BEFORE slice count derives from the data
    // (count(distinct vec_id % 4)); the AFTER state is compactConcat's
    // postcondition (zero live batch slices). n_rows both sides is the
    // real check: a fold that loses or doubles rows flips the hash.
    QueryDef("q_compact_policy", graft.streaming.VectorService.compactPolicyQuery _, sql(
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c,
                    CAST(count(DISTINCT vec_id % 4) AS BIGINT) AS g
             FROM embeddings)
         SELECT 'before' AS state, g AS n_batch_slices,
                CAST(3 AS BIGINT) AS max_slices, g > 3 AS compact,
                c AS n_rows
         FROM n
         UNION ALL
         SELECT 'after', CAST(0 AS BIGINT), CAST(3 AS BIGINT),
                CAST(0 AS BIGINT) > 3, c
         FROM n""")),
  )
}
