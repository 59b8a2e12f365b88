package graft
package queries

import graft.operators._
import graft.queries.OracleSql._
import graft.queries.QueryDef.sql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The multimodal tier: the stub media codec, MOB-backed media storage,
  * the media-feature IVF index, the cross-modal RAG capstone and the
  * recall gate over the index-served capstone legs. */
object MediaQueries {

  /** The MOB-backed media store (media payload cells MOB'd at the
    * 64-byte media-family threshold), built once per (JVM, corpus) and
    * shared by q_media_mob and [[ragMediaQuery]]'s media leg. */
  private def mediaMobDir(spark: SparkSession, sfDir: String): String =
    WorkDirs.once(s"media_mob_$sfDir") { dir =>
      operators.MobStore.writeMobPerFamily(
        operators.Multimodal.mediaCells(
          operators.Multimodal.deriveMedia(spark, sfDir)),
        dir,
        thresholds = Map("media" -> operators.Multimodal.MediaMobThreshold),
        default = 1 << 20)
    }

  /** The media FEATURE table, resolved THROUGH the MOB store (q_media_mob's
    * split/resolve path) and stub-encoded — shared by the media ANN
    * index, q_media_ann, and q_rag_media's semantic leg, so a byte lost
    * anywhere in the MOB path shifts every downstream cosine. */
  private def mediaFeats(spark: SparkSession, sfDir: String): DataFrame =
    operators.Multimodal.extractFeatures(
        operators.Multimodal.mediaFromCells(
          operators.MobStore.readResolved(spark, mediaMobDir(spark, sfDir))))
      .select(col("media_id").as("vec_id"), col("embedding"))

  /** The one media-feature IVF index per (JVM, corpus) — the
    * [[operators.IvfIndex]] pack-index discipline applied to the
    * multimodal tier: corpus-scaled nlist, cell-partitioned layout,
    * model kept for the oracle generators. */
  private val mediaIndexes = new Memo[String, (IvfIndex.Model, String)]

  private def mediaIndex(spark: SparkSession, sfDir: String): (IvfIndex.Model, String) =
    mediaIndexes(sfDir) {
      val feats = mediaFeats(spark, sfDir)
      val model = IvfIndex.train(feats, IvfIndex.scaledNlist(feats.count()),
        iters = 2)
      val dir = WorkDirs.dir(s"ivf_media_$sfDir")
      IvfIndex.writeIndex(feats, model, dir)
      (model, dir)
    }

  /** The one media model of this session, if any ([[Memo.only]]). */
  private def cachedMediaModel: Option[IvfIndex.Model] = mediaIndexes.only.map(_._1)

  /** QUERY-side media features: the `media_id` predicate applies BEFORE
    * the stub-encode `mapPartitions` (and pushes through the MOB resolve
    * join onto the main-store side), so fetching 1–3 query vectors costs
    * 1–3 decodes — a filter placed after [[mediaFeats]] cannot cross the
    * opaque per-partition encoder and re-encoded the whole corpus per
    * capstone run (the sf3 slope this fixes). */
  private def mediaQueryFeats(spark: SparkSession, sfDir: String,
      pred: org.apache.spark.sql.Column): DataFrame =
    operators.Multimodal.extractFeatures(
        operators.Multimodal.mediaFromCells(
          operators.MobStore.readResolved(spark, mediaMobDir(spark, sfDir)))
          .filter(pred))
      .select(col("media_id").as("vec_id"), col("embedding"))

  /** The media index's serving probe — [[operators.ServingProbe.decide]]
    * keyed `media:<corpus>`: a probe curve measured ONCE over the media
    * index (exact baseline paid at build, like the pack curve), the
    * autotuned decision bounded to the 2×√nlist band. Every serving
    * probe in the engine rides this one module; `targetMicro` is the
    * per-index recall-target knob (default 0.9 — the capstone floors
    * are pinned at it). */
  private def mediaServingNprobe(spark: SparkSession, sfDir: String,
      targetMicro: Long = operators.ServingProbe.DefaultTargetMicro): Int = {
    val (model, dir) = mediaIndex(spark, sfDir)
    operators.ServingProbe.decide(s"media:$sfDir", model.nlist, targetMicro) {
      val feats = mediaFeats(spark, sfDir)
      IvfIndex.probeCurve(spark, dir, feats,
        feats.filter(col("vec_id") < 5), model, k = 20)
    }
  }

  /** The probe the media oracle replays at — [[operators.ServingProbe
    * .oracleProbe]]: the served decision when unambiguous, the heuristic
    * for sessions that never served, None (oracle omitted → rows-only)
    * when a multi-corpus JVM holds several media serving decisions. */
  private def mediaOracleNprobe(m: operators.IvfIndex.Model): Option[Int] =
    operators.ServingProbe.oracleProbe("media:",
      operators.IvfIndex.scaledNprobe(m.nlist))

  /** Index-served media ANN leg: search the media-feature IVF index at
    * the serving probe (autotuned — [[mediaServingNprobe]]); `pred`
    * (over `media_id`) selects the queries. */
  private def mediaIndexSearch(spark: SparkSession, sfDir: String,
      pred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val (model, dir) = mediaIndex(spark, sfDir)
    IvfIndex.searchIndex(spark, dir, mediaQueryFeats(spark, sfDir, pred),
      model, k, nprobe = mediaServingNprobe(spark, sfDir))
  }

  /** Media features piped into ANN search — SERVED FROM THE MEDIA IVF
    * INDEX since round 15 (the multimodal → similarity composition at
    * index scale; [[operators.Multimodal.mediaAnnQuery]] remains the
    * scan-bound exact composition and q_ann_leg_recall's truth). */
  private def mediaAnnQuery(spark: SparkSession, sfDir: String): DataFrame =
    mediaIndexSearch(spark, sfDir, col("media_id") < 3, k = 10)

  /** Cross-modal retrieval capstone: a TEXT query's BM25 leg (the
    * q_bm25_search index probe) fused by RRF with a MEDIA-feature ANN leg
    * — payloads resolved THROUGH the MOB store (q_media_mob's split/
    * resolve path), stub-encoded to feature vectors (q_media_ann's
    * encoder), cosine top-20 against media 0 — then MMR-diversified to 10
    * with the MEDIA feature space as the diversity geometry. Every stage
    * is an already-verified piece; the oracle recomputes the feature
    * space from the RAW corpus (the shared q_media_ann replay), so a byte
    * lost anywhere in the MOB path shifts a cosine and flips the round.
    * Scale shape: both legs are ≤20-row lists when they reach the fusion
    * join; corpus size enters only through the audited BM25-probe and
    * scan-bound feature/ANN legs.
    *
    * INVARIANT (pinned in MediaMobSpec): the RRF join fuses the lexical
    * leg's `doc_id` with the media leg's `media_id` — the two id domains
    * coincide ONLY because [[operators.Multimodal.deriveMedia]] maps
    * doc_id → media_id 1:1 (and every BM25 hit has non-empty text, so
    * every fused candidate owns a feature vector for mmrSelect's inner
    * joins). A deriveMedia change that breaks the 1:1 mapping would fuse
    * unrelated entities while engine and oracle still agree — the spec
    * fails it instead. */
  private def ragMediaQuery(spark: SparkSession, sfDir: String): DataFrame = {
    // THE q_bm25_search leg, by call — the capstone reuses the verified
    // query, so its seeds/k/idf can never silently diverge from it
    val lex = SearchQueries.bm25SearchQuery(spark, sfDir).select(col("doc_id"), col("rank"))
    // the media ANN leg rides the MEDIA IVF INDEX (round 15) — the
    // scan-bound exact pass survives only as q_ann_leg_recall's truth
    val sem = mediaIndexSearch(spark, sfDir, col("media_id") === 0L, k = 20)
      .select(col("vec_id").as("doc_id"), col("rank"))
    val cand = HybridSearch.fuseTopK(lex, sem, k = 20)
      .select(lit(0L).as("query_id"), col("doc_id").as("vec_id"),
        ((lit(21L) - col("rank")) * lit(50000L)).as("rel"))
    // diversity geometry from the STORED index vectors (identical values,
    // already encoded) — re-deriving the full feature table here would
    // re-encode the whole corpus for a ≤20-row join
    val feats = IvfIndex.readIndex(spark, mediaIndex(spark, sfDir)._2)
      .select(col("vec_id"), col("embedding"))
    Similarity.mmrSelect(cand, feats, k = 10, lambdaTenths = 7)
      .select(col("vec_id").as("doc_id"), col("rel"), col("mmr_rank"))
  }

  /** (tier, recall floor in micro-units) for each INDEX-SERVED capstone
    * leg — the quality contract that lets the capstones drop their
    * scan-bound exact legs: hybrid_sem (q_hybrid_search / q_rag_e2e's
    * embedding leg through the pack IVF index), media_sem (q_rag_media's
    * media leg through the media IVF index), media_ann (q_media_ann).
    * Floors are comfortably under the measured values (see scaladoc of
    * [[legRecallQuery]]) but far above a broken probe. */
  private val LegFloors: Seq[(String, Long)] = Seq(
    ("hybrid_sem", 500000L),
    ("media_sem", 500000L),
    ("media_ann", 500000L))

  /** The gate's exact truth sets, memoized per corpus as DRIVER DATA
    * (≤100 (query_id, vec_id) pairs each): the scan-bound exact passes
    * are paid ONCE per (JVM, corpus), so the gate's steady-state cost is
    * CONSTANT across decades while its SEMANTICS stay the true top-k
    * recall. (A fixed md5 AUDIT PANEL — the dedupRecall device — was
    * tried first and measured: panel-restricted truth dilutes neighbor
    * strength as the corpus grows past the panel, and probe retention of
    * rank-diluted neighbors decays with scale — floors tripped at sf1
    * (0.25/0.40/0.47 vs 0.50). Per-pair sampling arguments do not
    * transfer to top-k truth; memoization does.) */
  private val legTruths = new Memo[String, Seq[(Long, Long)]]

  /** Driver-verified recall gate for the index-served capstone legs (the
    * AnnRecall pattern applied to the legs that replaced bruteForceTopK
    * in round 15): each leg joins the exact scan-bound truth it
    * displaced, recall = matches·1e6 div truth-count, and the oracle
    * replays legs AND truths relationally — so a probe regression in any
    * capstone flips a driver hash, not just a slow drift in fused
    * rankings. The exact passes live HERE (paid once, as gate truth)
    * instead of inside every capstone execution — and since round 16
    * they are paid once PER SESSION ([[legTruths]]) and the two
    * media truths share ONE scan (vec_id<3 at k=20, rank-cut per leg),
    * so the gate's steady-state cost is decade-flat. */
  private def legRecallQuery(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    def leg(tier: String, got: DataFrame, truthRows: Seq[(Long, Long)]): DataFrame = {
      val floor = LegFloors.toMap.apply(tier)
      // denominator = the truth set's OWN size, inlined as a literal —
      // the truths are cached driver rows, so the former
      // crossJoin(truth.agg(count)) re-counted a driver-local sequence
      // inside the plan (the AnnRecall round-18 cut)
      val denom = truthRows.size.toLong
      got.select("query_id", "vec_id")
        .join(truthRows.toDF("query_id", "vec_id"), Seq("query_id", "vec_id"))
        .agg(count(lit(1)).as("n_matches"))
        .select(lit(tier).as("tier"), col("n_matches"),
          expr(s"n_matches * 1000000 div ${denom}L").as("recall_micro"),
          (expr(s"n_matches * 1000000 div ${denom}L") >= lit(floor))
            .as("within_floor"))
    }
    val truthE = legTruths(s"$sfDir#emb0") {
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0L), k = 20)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    // ONE media exact pass serves both media legs: top-20 for the three
    // query ids, rank-cut to each leg's (queries, k)
    val mediaTruth20 = legTruths(s"$sfDir#media3") {
      val feats = mediaFeats(spark, sfDir)
      Similarity.bruteForceTopK(feats, feats.filter(col("vec_id") < 3), k = 20)
        .select(col("query_id"), col("vec_id"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1) * 1000L + r.getLong(2))).toSeq
    }
    def mediaTruth(pred: (Long, Long) => Boolean): Seq[(Long, Long)] =
      mediaTruth20.map { case (q, vr) => (q, vr / 1000L, vr % 1000L) }
        .filter { case (q, _, r) => pred(q, r) }
        .map { case (q, v, _) => (q, v) }
    // the three probe legs are independent Dataset constructions — built
    // concurrently like AnnRecall's 13 tiers (round 19, guide §2.6); the
    // assembled union (and result) is identical to the sequential build's
    DriverPool.buildAll("leg_recall", Seq(
      () => leg("hybrid_sem",
        IvfIndex.packSearch(spark, sfDir, col("vec_id") === 0L, k = 20),
        truthE),
      () => leg("media_sem",
        mediaIndexSearch(spark, sfDir, col("media_id") === 0L, k = 20),
        mediaTruth((q, _) => q == 0L)),
      () => leg("media_ann",
        mediaAnnQuery(spark, sfDir),
        mediaTruth((_, r) => r <= 10L))))
      .reduce(_ unionAll _)
  }

  /** q_ann_leg_recall — the recall gate for the index-served capstone
    * legs, composed from the SAME generated leg statements the per-query
    * oracles verify, each intersected with its replayed exact truth.
    * Needs both session models and unambiguous serving probes; omitted
    * (rows-only) otherwise. */
  private def legRecallOracle: Option[String] =
    for (m1 <- operators.IvfIndex.cachedModel; m2 <- cachedMediaModel;
         npPack <- packOracleNprobe(m1);
         npMedia <- mediaOracleNprobe(m2)) yield {
      def row(tier: String, gotSql: String, truthSql: String) =
        s"""SELECT '$tier' AS tier,
              CAST((SELECT count(*)
                    FROM (SELECT query_id, vec_id FROM ( $gotSql ) g) r
                    JOIN (SELECT query_id, vec_id FROM ( $truthSql ) tt) t
                      USING (query_id, vec_id)) AS BIGINT) AS n_matches,
              CAST((SELECT count(*) FROM ( $truthSql ) t2) AS BIGINT) AS denom"""
      val rows = Seq(
        row("hybrid_sem", ivfSearchSql(m1, "vec_id = 0", 20, npPack),
          embBruteSql("vec_id = 0", 20)),
        row("media_sem", mediaIvfSearchSql(m2, "vec_id = 0", 20, npMedia),
          mediaBruteSql("vec_id = 0", 20)),
        row("media_ann", mediaIvfSearchSql(m2, "vec_id < 3", 10, npMedia),
          mediaBruteSql("vec_id < 3", 10)))
        .mkString("\n          UNION ALL\n          ")
      s"""WITH m AS (
              $rows
            )
            SELECT tier, n_matches,
                   (n_matches * 1000000) // denom AS recall_micro,
                   (n_matches * 1000000) // denom >=
                     CASE tier ${LegFloors.map { case (t, f) =>
                       s"WHEN '$t' THEN $f"
                     }.mkString(" ")} END AS within_floor
            FROM m"""
    }

  /** The derived-media CTE body (`Multimodal.deriveMedia` + fnv digest):
    * media_id, kind (round-robin by id), payload size, unsigned hash. */
  private def mediaSql: String =
    s"""SELECT doc_id AS media_id,
               ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
               octet_length(encode(text)) AS n_bytes,
               ${fnvUSql("text")} AS hx
        FROM documents"""

  /** The media-feature CTE chain (`Multimodal.extractFeatures`'s stub
    * encoder replayed exactly: per-dim splitmix64 over the payload fnv
    * digest, double→float rounding, float normalization) ending in
    * `emb`(vec_id, embedding FLOAT[]) — shared by the q_media_ann oracle
    * and the q_rag_media capstone's media leg, so both replay the
    * identical feature space. */
  private def mediaEmbCtesSql: String =
    s"""m AS ($mediaSql),
           f1 AS (SELECT media_id, list_transform(range(64),
                    i -> (hx + CAST(i AS HUGEINT) + 11400714819323198485::HUGEINT)
                         % 18446744073709551616::HUGEINT) AS zs
                  FROM m WHERE n_bytes > 0),
           f2 AS (SELECT media_id, list_transform(zs, z -> ${mulModSql("xor(z, z // 1073741824::HUGEINT)", 0xbf58476d1ce4e5b9L)}) AS zs FROM f1),
           f3 AS (SELECT media_id, list_transform(zs, z -> ${mulModSql("xor(z, z // 134217728::HUGEINT)", 0x94d049bb133111ebL)}) AS zs FROM f2),
           f4 AS (SELECT media_id, list_transform(zs, z -> xor(z, z // 2147483648::HUGEINT)) AS zs FROM f3),
           raw AS (SELECT media_id AS vec_id,
             list_transform(zs, z -> CAST(CAST(${signedSql("z")} AS DOUBLE) / 9223372036854775807 AS FLOAT)) AS raw
             FROM f4),
           normed AS (SELECT vec_id,
             CAST(sqrt(list_reduce(list_transform(raw, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b)) AS FLOAT) AS nf, raw
             FROM raw),
           emb AS (SELECT vec_id, list_transform(raw, x -> CASE WHEN nf = 0 THEN x ELSE CAST(x / nf AS FLOAT) END) AS embedding FROM normed)"""

  /** `java.lang.Math.floorMod` over a signed BIGINT expression. */
  private def floorModSql(v: String, m: Long): String =
    s"((($v) % $m + $m) % $m)"

  /** `h >>> k` (unsigned shift) from the unsigned HUGEINT form. */
  private def ushiftSql(x: String, k: Int): String =
    s"CAST(($x) // ${1L << k}::HUGEINT AS BIGINT)"

  /** The q_media_decode / q_media_mob shared oracle: the stub codec
    * replayed exactly in SQL (fnv1a64 of the payload driving the fake
    * dimensions — floorMod on the signed hash, unsigned shifts on the
    * HUGEINT form). One definition so the two entries cannot drift. */
  private lazy val mediaDecodeOracleSql: String =
    s"""WITH m AS ($mediaSql),
           d AS (SELECT media_id, kind, n_bytes, ${signedSql("hx")} AS h, hx FROM m)
          SELECT media_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes,
            CAST(CASE WHEN n_bytes = 0 THEN 0
                      WHEN kind = 'image' THEN 64 + ${floorModSql("h", 1856L)}
                      WHEN kind = 'audio' THEN 0
                      ELSE 640 END AS INTEGER) AS width,
            CAST(CASE WHEN n_bytes = 0 THEN 0
                      WHEN kind = 'image' THEN 64 + ${ushiftSql("hx", 16)} % 1016
                      WHEN kind = 'audio' THEN 0
                      ELSE 360 END AS INTEGER) AS height,
            CAST(CASE WHEN n_bytes = 0 THEN 0
                      WHEN kind = 'audio' THEN ${floorModSql("h", 2L)} + 1
                      ELSE 3 END AS INTEGER) AS channels,
            CAST(CASE WHEN n_bytes = 0 THEN 0
                      WHEN kind = 'image' THEN 0
                      WHEN kind = 'audio' THEN 1000 + ${ushiftSql("hx", 8)} % 600000
                      ELSE 1000 + ${ushiftSql("hx", 24)} % 7200000 END AS BIGINT) AS duration_ms,
            n_bytes > 0 AS ok,
            CASE WHEN n_bytes = 0 THEN 'IllegalArgumentException: empty payload' END AS error
          FROM d"""

  /** The media-IVF assignment CTE fragment (appended after
    * [[mediaEmbCtesSql]], which supplies `emb`): centroid VALUES of the
    * session's media model, double-cast features, scores, argmax cells. */
  private def mediaCellsFragment(m: operators.IvfIndex.Model): String = {
    val cent = m.centroids.zipWithIndex.map { case (c, i) =>
      s"($i, ${doubleArrSql(c)})"
    }.mkString(",\n              ")
    s"""centm(cell, cv) AS (VALUES
              $cent),
           em AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM emb),
           scm AS (SELECT em.vec_id, em.ev, c.cell, list_dot_product(em.ev, c.cv) AS s
                   FROM em CROSS JOIN centm c),
           cellsm AS (SELECT vec_id, ev, cell FROM (
             SELECT vec_id, ev, cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
             FROM scm) t WHERE rn = 1)"""
  }

  /** One full media-IVF search statement: the [[OracleSql.ivfSearchSql]] twin over
    * the media feature space (stub-encoder replay + probe + rank). */
  private def mediaIvfSearchSql(m: operators.IvfIndex.Model,
      queryPred: String, k: Int, np: Int): String =
    s"""WITH $mediaEmbCtesSql,
           ${mediaCellsFragment(m)},
           probesm AS (SELECT vec_id AS query_id, ev AS qv, cell FROM (
             SELECT vec_id, ev, cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
             FROM scm WHERE $queryPred) t
             WHERE rn <= $np),
           scoredm AS (
             SELECT p.query_id, c.vec_id, ${cosineSql("c.ev", "p.qv")} AS cosine
             FROM cellsm c JOIN probesm p
               ON c.cell = p.cell AND c.vec_id != p.query_id)
          SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scoredm) t WHERE rank <= $k"""

  /** Brute-force cosine top-k over the media feature replay — the old
    * q_media_ann statement generalized: the leg recall gate's TRUTH. */
  private def mediaBruteSql(queryPred: String, k: Int): String =
    s"""WITH $mediaEmbCtesSql,
           q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM emb WHERE $queryPred),
           c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM emb),
           scored AS (
             SELECT q.query_id, c.vec_id, ${cosineSql("c.cv", "q.qv")} AS cosine
             FROM c JOIN q ON c.vec_id != q.query_id)
          SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored) t WHERE rank <= $k"""

  /** Brute-force cosine top-k over the embeddings table (query cut by
    * `queryPred`) emitting only the matched pair — the embedding-side
    * truth for the leg recall gate. */
  private def embBruteSql(queryPred: String, k: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE $queryPred),
           scored AS (SELECT q.query_id, c.vec_id, ${cosineSql("c.ev", "q.qv")} AS cosine
                      FROM e c JOIN q ON c.vec_id != q.query_id)
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored) t WHERE rank <= $k"""

  /** q_media_ann + q_rag_media — generated from the session's media-IVF
    * model (index-served legs); omitted (rows-only) when absent. The
    * feature space is still recomputed from the RAW corpus (the
    * splitmix64 stub-encoder replay), so the engine's MOB-resolved path
    * must reproduce it byte for byte. */
  private def mediaLeg(oracle: (IvfIndex.Model, Int) => String): () => Option[String] =
    () => for (m <- cachedMediaModel; np <- mediaOracleNprobe(m)) yield oracle(m, np)

  val defs: Seq[QueryDef] = Seq(
    // Multimodal decode: the deterministic stub codec (fnv1a64 of the
    // payload driving the fake dimensions) reproduced exactly in SQL —
    // floorMod on the signed hash, unsigned shifts on the HUGEINT form.
    QueryDef("q_media_decode", Multimodal.decodeQuery _, sql(mediaDecodeOracleSql)),
    // The multimodal tier riding MOB storage, end to end in the declared
    // surface: media payload cells MOB at a 64-byte media-family
    // threshold, resolve back through the content-key join, and decode
    // through the stub codec — the ORACLE IS q_media_decode's (the same
    // stub replay over the raw corpus), so a byte lost anywhere in the
    // split/resolve path flips a fake dimension or digest.
    // MOB-backed decode: the same ground truth — a byte lost anywhere in
    // the MOB split/resolve path flips a stub dimension or digest
    QueryDef("q_media_mob", (spark, sfDir) =>
      operators.Multimodal.decodeMeta(
        operators.Multimodal.mediaFromCells(
          operators.MobStore.readResolved(spark, mediaMobDir(spark, sfDir)))).toDF(), sql(mediaDecodeOracleSql)),
    // Frame sampling: ok videos exploded to 60s-spaced frame descriptors
    // with the sha256 digest both engines compute identically.
    QueryDef("q_frame_sample", Multimodal.frameSampleQuery _, sql(
      s"""WITH m AS ($mediaSql),
           v AS (SELECT media_id, 1000 + ${ushiftSql("hx", 24)} % 7200000 AS duration_ms
                 FROM m WHERE kind = 'video' AND n_bytes > 0),
           f AS (SELECT media_id, unnest(generate_series(0, duration_ms, 60000)) AS frame_ts_ms FROM v)
          SELECT media_id, frame_ts_ms,
                 sha256(concat(CAST(media_id AS VARCHAR), ':', CAST(frame_ts_ms AS VARCHAR))) AS frame_digest
          FROM f""")),
    // Media features → ANN through the media IVF index: stub-encoder
    // replay, probe from the cached centroids, bit-exact cosine
    // top-10 for the first 3 media ids.
    QueryDef("q_media_ann", mediaAnnQuery _,
      mediaLeg((m, np) => mediaIvfSearchSql(m, "vec_id < 3", 10, np))),
    // Cross-modal RAG capstone: the BM25 lexical leg fused (RRF, the
    // q_hybrid_search math) with the INDEX-SERVED media-feature leg,
    // then the ten unrolled MMR greedy steps over media-feature
    // cosines (λ = 0.7).
    QueryDef("q_rag_media", ragMediaQuery _, mediaLeg { (m, np) =>
      val (steps, unionPicks) = mmrUnrolledSql(k = 10, lambdaTenths = 7)
      s"""WITH $mediaEmbCtesSql,
              ${mediaCellsFragment(m)},
              lex AS ($bm25OracleSql),
              probesm AS (SELECT vec_id AS query_id, ev AS qv, cell FROM (
                SELECT vec_id, ev, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
                FROM scm WHERE vec_id = 0) t
                WHERE rn <= $np),
              semscored AS (SELECT c.vec_id, ${cosineSql("c.ev", "p.qv")} AS cosine
                            FROM cellsm c JOIN probesm p
                              ON c.cell = p.cell AND c.vec_id != p.query_id),
              sem AS (SELECT vec_id AS doc_id, rank FROM (
                        SELECT vec_id,
                               CAST(row_number() OVER (ORDER BY cosine DESC,
                                 vec_id ASC) AS BIGINT) AS rank
                        FROM semscored) t WHERE rank <= 20),
              u AS (SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
                           CAST(coalesce(l.rank, 0) AS BIGINT) AS lex_rank,
                           CAST(coalesce(s.rank, 0) AS BIGINT) AS sem_rank
                    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id),
              fz AS (SELECT doc_id,
                           CAST(CASE WHEN lex_rank > 0
                                  THEN floor(1000000000000.0 / (60.0 + lex_rank))
                                  ELSE 0 END
                              + CASE WHEN sem_rank > 0
                                  THEN floor(1000000000000.0 / (60.0 + sem_rank))
                                  ELSE 0 END AS BIGINT) AS rrf_score
                     FROM u),
              fused AS (SELECT doc_id,
                          CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC)
                            AS BIGINT) AS rank
                        FROM fz ORDER BY rrf_score DESC, doc_id ASC LIMIT 20),
              cand AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS query_id,
                       doc_id AS vec_id,
                       CAST((21 - rank) * 50000 AS BIGINT) AS rel FROM fused),
              e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM emb),
              ce AS MATERIALIZED (SELECT cand.query_id, cand.vec_id, e.ev
                    FROM cand JOIN e ON e.vec_id = cand.vec_id),
              sims AS MATERIALIZED (SELECT a.query_id, a.vec_id AS c, b.vec_id AS o,
                       CAST(floor(${cosineSql("a.ev", "b.ev")} * 1000000.0 + 0.5) AS BIGINT) AS sim
                     FROM ce a JOIN ce b ON a.query_id = b.query_id AND a.vec_id != b.vec_id),
              r0 AS (SELECT query_id, vec_id, rel, CAST(0 AS BIGINT) AS pen FROM cand),
              $steps
              SELECT vec_id AS doc_id, rel, mmr_rank FROM (
              $unionPicks) z"""
    }),
    QueryDef("q_ann_leg_recall", legRecallQuery _, () => legRecallOracle),
  )
}
