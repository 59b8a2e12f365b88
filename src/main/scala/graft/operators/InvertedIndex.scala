package graft.operators

import graft.model.CellTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Keyword retrieval over the corpus: term postings, tf-idf keyword
 * extraction, and an inverted index materialized AS A CELL STORE so
 * keyword search runs like every other point lookup in the engine —
 * pushed GETs with bucket pruning and bloom file-elision, cost ∝ the
 * query's posting lists, never a corpus scan. The index is the text
 * analogue of [[ValueIndex]] (exact-value secondary index) and rounds
 * out the pipeline tier: dedup/cleaning decide what to keep, search
 * finds it again.
 *
 * tf-idf scoring uses the RATIONAL idf `(N+1)/(df+1)` — a single IEEE
 * division — rather than the usual `ln((N+1)/(df+1))`: transcendental
 * libm calls are the one place two engines legitimately disagree at the
 * ulp, and the repo's correctness gate is bit-exact cross-engine
 * comparison (same reasoning as [[TextAnalysis.ngramLmScore]]'s rational
 * LM). BM25 defaults to the production `ln` Okapi idf, with the rational
 * form as its oracle-compared twin — see [[searchBm25]]. Per-term
 * contributions are quantized to MICRO-UNITS — `floor(x·10⁶ + 0.5)` as
 * BIGINT, i.e. scaled-integer half-up — and summed as longs, so the
 * per-document score is an EXACT integer sum: associative (independent
 * of Spark's aggregation order) AND tie-rule-free. `round(x, 6)` +
 * DECIMAL looked equivalent but wasn't: tf·idf contributions are
 * rationals that land on exact 7-digit `…5` ties whenever df+1 is a
 * power of two, precisely where engines' (and engine versions') round/
 * cast tie rules diverge; `floor` is exact IEEE and the multiply/add is
 * the same double op everywhere, so the quantized value is identical on
 * any engine evaluating the same arithmetic.
 *
 * Scale shape: postings are one explode + hash aggregation (map-side
 * combine absorbs the ~constant-vocabulary fixture's hot terms); the
 * index build is one cell-store write; a search touches only the
 * probed terms' buckets (runtime `In(rowKey)` pruning) and its top-k is
 * a TakeOrderedAndProject, never a global window.
 */
object InvertedIndex {

  /** (term, doc_id, tf) — one hash aggregation over exploded tokens. */
  def postings(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** (term, df) — document frequency per term. */
  def docFrequencies(post: DataFrame): DataFrame =
    post.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** Rational idf as a Column: (N+1)/(df+1), one IEEE division. */
  private def idf(nDocs: Long): org.apache.spark.sql.Column =
    (lit(nDocs) + lit(1.0)) / (col("df") + lit(1))

  /** Scaled-integer half-up: `floor(x·10⁶ + 0.5)` as BIGINT — the
    * tie-rule-free 6-decimal quantization every ranked score uses (see
    * the class doc). Spark's `floor(double)` returns LongType. */
  private def microUnits(x: org.apache.spark.sql.Column) =
    floor(x * lit(1000000.0) + lit(0.5))

  /**
   * Per-document top-k keywords by tf·idf. Each score is exactly two
   * IEEE ops (divide, multiply) — no sums — so it is reproducible
   * bit-for-bit by any engine evaluating the same arithmetic. Ranked
   * per doc (score desc, term asc); the window partitions by doc_id,
   * so it distributes.
   */
  def tfidfTopTerms(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val post = postings(docs, idCol, textCol)
    val nDocs = docs.select(col(idCol)).count()
    val scored = post
      .join(docFrequencies(post), Seq("term"))
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") * idf(nDocs)).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  // --- index store layout -------------------------------------------------
  // posting cell:  rowKey = bigEndian(xxhash64(term)), family "post",
  //                qualifier = term ‖ \0 ‖ doc_id,
  //                value = bigEndian(tf) ‖ bigEndian(dl) (16 bytes: the
  //                doc's token length rides IN the posting — the Lucene
  //                norms-in-postings device — so BM25's length
  //                normalization needs no second probe wave keyed by doc)
  // df cell:       rowKey = bigEndian(xxhash64(term)), family "df",
  //                qualifier = term,                   value = bigEndian(df)
  // corpus size:   rowKey = bigEndian(0), family "meta",
  //                qualifier = "n_docs",               value = bigEndian(N)
  // length sum:    rowKey = bigEndian(0), family "meta",
  //                qualifier = "sum_dl",               value = bigEndian(Σdl)
  // Hash collisions only co-locate rows (qualifier keeps the coordinate
  // unique and carries the exact term for the post-GET re-check).

  // escaped, not a raw NUL byte: a literal \0 in the string made git treat
  // the whole file as binary (no diffs, no grep); "\u0000" is the same value
  private val Sep = "\u0000"

  private def termKey(term: org.apache.spark.sql.Column) =
    CellTable.bigEndianKey(xxhash64(term))

  /** Meta qualifier [[purgeIndex]] sets once tombstones exist in the
    * store: its presence routes probes onto the delete-visible path,
    * while never-purged stores keep the raw pushed-GET fast path. */
  private val TombstonedMeta = "tombstoned"

  /** (term, doc_id, positions) — 1-based token positions per posting,
    * ascending. The positional layer a phrase query needs; one
    * posexplode + hash aggregation, same shuffle key as [[postings]]. */
  def positionalPostings(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos") + 1)).as("positions"))

  /** Index cells for a corpus — append them through the DSv2 writer. */
  def indexCells(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val post = postings(docs, idCol, textCol)
    // per-doc token length (= Σ tf over the doc's terms), denormalized
    // into every posting value so ranked search never probes by doc id
    val docLengths = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val postCells = post.join(docLengths, Seq("doc_id")).select(
      termKey(col("term")).as("rowKey"),
      lit("post").as("family"),
      concat(col("term"), lit(Sep), col("doc_id").cast("string"))
        .cast("binary").as("qualifier"),
      lit(CellTable.BaseTs).as("ts"),
      lit("Put").as("cellType"),
      concat(CellTable.bigEndianKey(col("tf")),
        CellTable.bigEndianKey(col("dl"))).as("value"))
    val dfs = docFrequencies(post)
    val dfCells = dfs.select(
      termKey(col("term")).as("rowKey"),
      lit("df").as("family"),
      col("term").cast("binary").as("qualifier"),
      lit(CellTable.BaseTs).as("ts"),
      lit("Put").as("cellType"),
      CellTable.bigEndianKey(col("df")).as("value"))
    def metaCell(agg: DataFrame, qual: String) = agg.select(
      CellTable.bigEndianKey(lit(0L)).as("rowKey"),
      lit("meta").as("family"),
      lit(qual).cast("binary").as("qualifier"),
      lit(CellTable.BaseTs).as("ts"),
      lit("Put").as("cellType"),
      CellTable.bigEndianKey(col("v")).as("value"))
    // positional layer: comma-joined ascending 1-based positions — the
    // value a phrase query decodes; same row key, its own family so
    // ranked search never reads it
    val posCells = positionalPostings(docs, idCol, textCol).select(
      termKey(col("term")).as("rowKey"),
      lit("pos").as("family"),
      concat(col("term"), lit(Sep), col("doc_id").cast("string"))
        .cast("binary").as("qualifier"),
      lit(CellTable.BaseTs).as("ts"),
      lit("Put").as("cellType"),
      concat_ws(",", transform(col("positions"), _.cast("string")))
        .cast("binary").as("value"))
    // lexicon layer: the term DICTIONARY keyed by the raw term bytes (not
    // the hash), so prefix/wildcard queries resolve matching terms with
    // ONE pushed rowKey RANGE scan — the sorted term dictionary real
    // search engines keep next to their hashed postings. Presence-only
    // (value is a marker): purge never touches it, a stale entry costs
    // one empty probe, never a wrong result. Derived from the SAME dfs
    // aggregation as dfCells — a second docFrequencies call would plan a
    // second full groupBy(term) shuffle over the postings.
    val lexCells = dfs.select(
      col("term").cast("binary").as("rowKey"),
      lit("lex").as("family"),
      col("term").cast("binary").as("qualifier"),
      lit(CellTable.BaseTs).as("ts"),
      lit("Put").as("cellType"),
      lit(Array[Byte](1)).as("value"))
    postCells.unionByName(dfCells).unionByName(posCells)
      .unionByName(lexCells)
      .unionByName(metaCell(
        docs.select(col(idCol)).agg(count(lit(1)).as("v")), "n_docs"))
      .unionByName(metaCell(
        docLengths.agg(sum(col("dl")).as("v")), "sum_dl"))
  }

  /** Build (overwrite) the index store at `dir` as a salted cell store. */
  def buildIndex(spark: SparkSession, docs: DataFrame, dir: String,
      buckets: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    indexCells(docs, idCol, textCol)
      .write.format("cellstore").option("buckets", buckets.toString)
      .mode("overwrite").save(dir)
    invalidateMeta(dir)
  }

  /**
   * Subject purge PROPAGATED to the derived search artifact: masks the
   * purged documents' postings with cell-model tombstones and appends
   * corrected df / meta cells, so every subsequent search ranks exactly
   * as an index that never contained them — governance's
   * right-to-be-forgotten reaching past the source table into the
   * index, without a rebuild (the HBase shape: deletes are markers
   * until a compaction folds them away).
   *
   * Mechanics, all bounded by the PURGE SET, never the corpus:
   *  - the subject docs' own text yields the affected (term, doc)
   *    coordinates; the store probe hands the scan that rowKey set at
   *    runtime (broadcast join → runtime `In(rowKey)` filtering);
   *  - only STILL-VISIBLE victim postings count, so re-purging the same
   *    subject is a no-op (df is never double-decremented);
   *  - `post` and `pos` cells get DeleteColumn markers at `purgeTs`;
   *    df cells get a corrected Put — or a tombstone when the term's
   *    last posting dies; meta n_docs/sum_dl get corrected Puts;
   *  - every probe applies GET visibility (see [[visibleSlice]]), so
   *    the purge is live the moment the append commits.
   *
   * Distinct purge batches must use distinct `purgeTs` values (two
   * same-coordinate writes at one ts are last-write-wins-ambiguous,
   * exactly as in HBase). Targets a single base store — streaming
   * delta roots compact through [[graft.streaming.StreamIndex]].
   */
  def purgeIndex(spark: SparkSession, dir: String, purgedDocs: DataFrame,
      purgeTs: Long = CellTable.BaseTs + 1, buckets: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val store = spark.read.format("cellstore").load(dir)
    val coords = postings(purgedDocs, idCol, textCol)
      .select(termKey(col("term")).as("rowKey"), col("term"),
        col("doc_id").cast("string").as("_doc"))
    val probed = visibleSlice(store.join(
      broadcast(coords.select(col("rowKey")).distinct()), Seq("rowKey")))
    // still-visible victim postings: (rowKey, qualifier, term, _doc, dl)
    val victims = probed.filter(col("family") === "post")
      .select(col("rowKey"), col("qualifier"),
        split(col("qualifier").cast("string"), Sep).as("_q"),
        CellTable.keyToLong(substring(col("value"), 9, 8)).as("dl"))
      .select(col("rowKey"), col("qualifier"),
        col("_q").getItem(0).as("term"), col("_q").getItem(1).as("_doc"),
        col("dl"))
      .join(coords.select(col("term"), col("_doc")).distinct(),
        Seq("term", "_doc"))
      .localCheckpoint() // one probe feeds markers, df and meta corrections
    def markers(family: String) = victims
      .select(col("rowKey"), lit(family).as("family"), col("qualifier"),
        lit(purgeTs).as("ts"), lit("Delete").as("cellType"),
        lit(Array.empty[Byte]).as("value"))
    val removed = victims.groupBy(col("rowKey"), col("term"))
      .agg(count(lit(1)).as("_rm"))
    val dfCorrections = probed.filter(col("family") === "df")
      .select(col("rowKey"), col("qualifier").cast("string").as("term"),
        CellTable.keyToLong(col("value")).as("df"))
      .join(removed, Seq("rowKey", "term"))
      .select(col("rowKey"), lit("df").as("family"),
        col("term").cast("binary").as("qualifier"),
        lit(purgeTs).as("ts"),
        when(col("df") > col("_rm"), lit("Put"))
          .otherwise(lit("Delete")).as("cellType"),
        when(col("df") > col("_rm"),
            CellTable.bigEndianKey(col("df") - col("_rm")))
          .otherwise(lit(Array.empty[Byte])).as("value"))
    // bounded collects: one row per purged doc (dl rides in each of its
    // postings — max is the per-doc constant), then two meta scalars
    val goneAgg = victims.select(col("_doc"), col("dl")).distinct()
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sdl"))
      .head()
    val metas = readMeta(store)
    val metaCells = Seq(
      ("n_docs", metas("n_docs") - goneAgg.getLong(0)),
      ("sum_dl", metas("sum_dl") - goneAgg.getLong(1)),
      (TombstonedMeta, 1L))
    val metaCorrections = metaCells.map { case (q, v) =>
      spark.range(1).select(
        CellTable.bigEndianKey(lit(0L)).as("rowKey"),
        lit("meta").as("family"), lit(q).cast("binary").as("qualifier"),
        lit(purgeTs).as("ts"), lit("Put").as("cellType"),
        CellTable.bigEndianKey(lit(v)).as("value"))
    }.reduce(_ unionByName _)
    markers("post").unionByName(markers("pos"))
      .unionByName(dfCorrections).unionByName(metaCorrections)
      .write.format("cellstore").option("buckets", buckets.toString)
      .mode("append").save(dir)
    invalidateMeta(dir)
  }

  /**
   * Major-compact the index store: folds the purge tombstones and the
   * superseded df/meta versions away ([[Compaction.survivors]] with
   * maxVersions=1) and clears the [[TombstonedMeta]] flag — after which
   * the store is cell-for-cell what [[buildIndex]] over the surviving
   * corpus writes (modulo file layout), and probes return to the raw
   * pushed-GET fast path. The HBase lifecycle: deletes are markers
   * until a major compaction folds them into the files.
   *
   * Full-store overwrite (exclusive access, as
   * [[Compaction.compactStore]]); the salted layout is preserved via
   * the store manifest's bucket count.
   */
  def compactIndex(spark: SparkSession, dir: String): Unit = {
    val buckets = graft.sources.CellStoreSource.readBuckets(
      new org.apache.hadoop.fs.Path(dir)).getOrElse(8)
    Compaction.survivors(spark.read.format("cellstore").load(dir),
        maxVersions = 1, ttlWatermark = Long.MinValue)
      .filter(!(col("family") === "meta" &&
        col("qualifier").cast("string") === TombstonedMeta))
      .write.format("cellstore").mode("overwrite")
      .option("buckets", buckets.toString).save(dir)
    invalidateMeta(dir)
  }

  /**
   * Ranked keyword search through the index store. Touches only the
   * query terms' buckets (pushed `In(rowKey)` GETs on both the postings
   * and df families); score = Σ_t tf·idf in micro-units (BIGINT, see
   * [[microUnits]]); top-k by (score desc, doc_id asc) via orderBy+limit
   * (TakeOrderedAndProject — no global single-partition window).
   */
  /** The probe keys for a term list, hashed exactly as the index writer
    * hashed them — ON THE DRIVER (round 18): the same catalyst hash
    * kernel the [[termKey]] expression runs (`XxHash64Function`, seed 42,
    * the `xxhash64` default) followed by the big-endian layout
    * [[CellTable.bigEndianKey]] encodes, so the bytes are identical to
    * the writer's. The former `spark.range(1).head()` spent a whole
    * Spark job per search invocation just to hash a handful of terms;
    * IndexStoreSpec pins driver-key == expression-key equivalence. */
  private def probeKeys(spark: SparkSession, uniq: Seq[String]): Seq[Array[Byte]] =
    uniq.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(t),
        org.apache.spark.sql.types.StringType, 42L)
      java.nio.ByteBuffer.allocate(8).putLong(h).array()
    }

  /** Spec hook: the driver-side key bytes next to the expression-side
    * key for the same term — IndexStoreSpec asserts they agree. */
  private[graft] def probeKeyPair(spark: SparkSession, term: String)
      : (Array[Byte], Array[Byte]) = {
    val exprKey = spark.range(1).select(termKey(lit(term)).as("k"))
      .head().getAs[Array[Byte]]("k")
    (probeKeys(spark, Seq(term)).head, exprKey)
  }

  /** Delete-visible read of a probed slice. The index store is a mutable
    * cell-model citizen — [[purgeIndex]] writes tombstones and corrected
    * stats cells at later timestamps — so every probe applies standard
    * GET visibility ([[CellTable.visibleLatest]]). The input is already
    * narrowed to the probed keys, so the visibility window is bounded by
    * the probed terms' cells: a delete-visible probe costs the same as
    * the raw read at any corpus size. */
  private def visibleSlice(slice: DataFrame): DataFrame =
    CellTable.visibleLatest(slice)

  /** Meta scalars (n_docs, sum_dl, tombstoned flag) memoized per store
    * DIRECTORY (round 18): the collect is a pushed-GET job the former
    * probe paid on EVERY search invocation, for cells that only change
    * when the store itself is mutated — and every in-JVM mutation entry
    * point ([[buildIndex]], [[purgeIndex]], [[compactIndex]]) invalidates
    * the entry after its write. Delta slices are write-once dirs, so
    * streamed probes never see a stale entry. */
  private val storeMetas = new graft.Memo[String, Map[String, Long]]

  private[operators] def invalidateMeta(dir: String): Unit = storeMetas.remove(dir)

  /** The probed postings/df frames + meta scalars shared by both ranking
    * functions: (postings with tf and dl, dfs, n_docs, sum_dl). */
  private def probe(spark: SparkSession, dir: String, uniq: Seq[String])
      : (DataFrame, DataFrame, Long, Long) = {
    val keys = probeKeys(spark, uniq)
    val store = spark.read.format("cellstore").load(dir)
    val metas = storeMetas(dir)(readMeta(store))
    val raw = store.filter(
      col("rowKey").isInCollection(keys) &&
        (col("family") === "post" || col("family") === "df"))
    // pristine stores (no tombstones ever written) keep the raw pushed-GET
    // fast path; a purged store pays the bounded visibility pass,
    // materialized ONCE — the post and df branches join below, and
    // without the checkpoint each side would re-run scan + visibility
    val probed =
      if (metas.contains(TombstonedMeta)) visibleSlice(raw).localCheckpoint()
      else raw
    val post = probed.filter(col("family") === "post")
      .select(split(col("qualifier").cast("string"), Sep).as("_q"),
        CellTable.keyToLong(substring(col("value"), 1, 8)).as("tf"),
        CellTable.keyToLong(substring(col("value"), 9, 8)).as("dl"))
      .select(col("_q").getItem(0).as("term"),
        col("_q").getItem(1).cast("bigint").as("doc_id"),
        col("tf"), col("dl"))
      .filter(col("term").isin(uniq: _*)) // exact re-check past hash collisions
    val dfs = probed.filter(col("family") === "df")
      .select(col("qualifier").cast("string").as("term"),
        CellTable.keyToLong(col("value")).as("df"))
      .filter(col("term").isin(uniq: _*))
    (post, dfs, metas("n_docs"), metas("sum_dl"))
  }

  /** Delete-visible meta scalars (n_docs, sum_dl) of a loaded store. */
  private def readMeta(store: DataFrame): Map[String, Long] =
    visibleSlice(store
      .filter(col("rowKey") === CellTable.bigEndianKey(lit(0L)) &&
        col("family") === "meta"))
      .select(col("qualifier").cast("string"), CellTable.keyToLong(col("value")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Bounded-input rank + top-k tail shared by both ranking functions. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = scored.orderBy(col("score").desc, col("doc_id").asc).limit(k)
    // rank over the k collected rows only — bounded input, safe window
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc))
        .cast("bigint"))
  }

  /** tf·idf scoring over an already-probed (postings, dfs, n_docs)
    * triple — shared by the single-store and delta-union paths. */
  private[graft] def scoreTfidf(post: DataFrame, dfs: DataFrame,
      nDocs: Long, k: Int): DataFrame = {
    val scored = post.join(dfs, Seq("term"))
      .select(col("doc_id"),
        microUnits(col("tf").cast("double") * idf(nDocs)).as("_c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("_c")).as("score"))
    topK(scored, k)
  }

  def search(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int): DataFrame = {
    val uniq = terms.distinct
    val (post, dfs, nDocs, _) = probe(spark, dir, uniq)
    scoreTfidf(post, dfs, nDocs, k)
  }

  /** Smallest byte string strictly greater than every string with prefix
    * `b`: increment the last non-0xFF byte, truncating behind it; None =
    * unbounded (an all-0xFF prefix). */
  private def prefixSuccessor(b: Array[Byte]): Option[Array[Byte]] = {
    var i = b.length - 1
    while (i >= 0 && b(i) == 0xFF.toByte) i -= 1
    if (i < 0) None
    else { val r = b.take(i + 1); r(i) = (r(i) + 1).toByte; Some(r) }
  }

  /**
   * Prefix (`pre*`) term search: resolve the matching terms from the
   * LEXICON family — keyed by raw term bytes, so the prefix becomes ONE
   * pushed rowKey RANGE on the store (`[prefix, succ(prefix))`, the
   * dictionary scan a real engine's wildcard query does) — then rank
   * with the standard hash-probed tf·idf sum over the resolved set.
   * The term list collects to the driver, bounded by the prefix's
   * lexicon width (the same bound [[search]]'s caller-supplied term
   * list has — a one-letter prefix on a web corpus should go through
   * [[tfidfTopTerms]]-style pruning instead).
   */
  def prefixSearch(spark: SparkSession, dir: String, prefix: String,
      k: Int, maxTerms: Int = 1024): DataFrame = {
    require(prefix.nonEmpty, "prefix must be non-empty")
    val lo = prefix.getBytes("UTF-8")
    val store = spark.read.format("cellstore").load(dir)
    val ranged = prefixSuccessor(lo) match {
      case Some(hi) => store.filter(col("rowKey") >= lit(lo) && col("rowKey") < lit(hi))
      case None     => store.filter(col("rowKey") >= lit(lo))
    }
    // maxTerms+1 limit: the collect is bounded BEFORE it happens, so a
    // one-letter prefix on a web-scale lexicon fails fast with advice
    // instead of pulling the dictionary onto the driver
    val terms = ranged.filter(col("family") === "lex")
      .select(col("qualifier").cast("string").as("term"))
      .limit(maxTerms + 1)
      .collect().map(_.getString(0)).toSeq.sorted
    require(terms.size <= maxTerms,
      s"prefix '$prefix' matches more than $maxTerms lexicon terms — " +
        "narrow the prefix or raise maxTerms (driver-side term list)")
    if (terms.isEmpty) {
      import spark.implicits._
      spark.emptyDataset[(Long, Long, Long)].toDF("doc_id", "score", "rank")
    } else search(spark, dir, terms, k)
  }

  /** The probed triple, visible to [[graft.streaming.StreamIndex]]'s
    * delta-union search. */
  private[graft] def probeStore(spark: SparkSession, dir: String,
      uniq: Seq[String]): (DataFrame, DataFrame, Long, Long) =
    probe(spark, dir, uniq)

  /**
   * BM25-ranked search (Robertson–Spärck Jones, the Okapi weighting):
   * per-term contribution
   *
   *   idf · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
   *
   * The DEFAULT idf is the production Okapi form
   * `ln(1 + (N − df + 0.5)/(df + 0.5))` (the Lucene/BM25+ variant, always
   * positive) — real ranking parity with standard search engines. Setting
   * `lnIdf = false` swaps in the repo's RATIONAL idf `(N+1)/(df+1)` — a
   * single IEEE division, no libm — which is the ORACLE-COMPARED twin:
   * transcendental calls are the one place two engines legitimately
   * disagree at the ulp, so the driver-verified query pins the rational
   * form while InvertedIndexSpec pins the relationship between the two:
   * single-term rankings are IDENTICAL (idf is a per-term constant, so
   * any positive idf orders by the length-normalized tf factor alone);
   * multi-term queries weight terms in different RATIOS, so the two are
   * similar-but-distinct rankings there — the spec pins top-hit
   * agreement and high retrieved-set overlap. dl rides in the posting
   * value and avgdl =
   * Σdl/N from the meta cells, so the probe shape is IDENTICAL to
   * [[search]] — the length normalization is free. Contributions
   * quantize to micro-units and sum as BIGINT (order- and tie-rule-free),
   * like every ranked score in the engine (see [[microUnits]]).
   */
  def searchBm25(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      lnIdf: Boolean = true): DataFrame = {
    val uniq = terms.distinct
    val (post, dfs, nDocs, sumDl) = probe(spark, dir, uniq)
    val avgdl = sumDl.toDouble / nDocs
    val tfD = col("tf").cast("double")
    val idfCol =
      if (lnIdf)
        log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)))
      else idf(nDocs)
    val den = tfD + lit(k1) *
      (lit(1 - b) + lit(b) * (col("dl").cast("double") / lit(avgdl)))
    val scored = post.join(dfs, Seq("term"))
      .select(col("doc_id"),
        microUnits(idfCol * ((tfD * lit(k1 + 1)) / den)).as("_c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("_c")).as("score"))
    topK(scored, k)
  }

  /**
   * Pseudo-relevance-feedback query expansion (the Rocchio/RM1 shape):
   * run the seed query, take the top `fbDocs` hits as silent relevance
   * judgments, mine their text for the `fbTerms` most frequent non-seed
   * terms (space-split — the index's own tokenization — length ≥ 4 as
   * the cheap stopword screen, (tf desc, term asc) tiebreak), and re-run
   * BM25 with the expanded term set at equal weights.
   *
   * Scale shape: the feedback pass is a k-probe ([[searchBm25]]); term
   * mining tokenizes ONLY the fbDocs hit documents (the k-row hit list
   * broadcasts into a semi-join — the [[phraseSnippets]] discipline), and
   * the expansion list collected to the driver is `fbTerms` strings —
   * bounded model-sized state, the BPE convention. The expanded query is
   * one more k-probe. Nothing rescans the corpus.
   */
  def searchPrf(spark: SparkSession, dir: String, docs: DataFrame,
      terms: Seq[String], k: Int, fbDocs: Int = 5, fbTerms: Int = 3,
      k1: Double = 1.2, b: Double = 0.75, lnIdf: Boolean = true): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 0, "need fbDocs >= 1, fbTerms >= 0")
    val fb = searchBm25(spark, dir, terms, fbDocs, k1, b, lnIdf)
      .select("doc_id")
    val expansion = docs.join(broadcast(fb), "doc_id")
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) >= 4 && !col("term").isin(terms: _*))
      .groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term").asc)
      .limit(fbTerms)
      .collect().map(_.getString(0)).toSeq // fbTerms rows: bounded driver state
    searchBm25(spark, dir, terms ++ expansion, k, k1, b, lnIdf)
  }

  /**
   * Exact phrase search through the positional layer: probe the phrase
   * terms' `pos` cells (pushed `In(rowKey)` GETs — cost ∝ the terms'
   * posting lists, never a corpus scan), regroup per document, and
   * count alignment starts — a position p of the first term matches
   * when every later term i sits at p+i. Docs ranked by match count
   * with the doc_id tiebreak, top-k via TakeOrdered.
   *
   * The alignment check is an array HOF over the (bounded, per-doc)
   * position lists — no token-level shuffle, no re-read of the text.
   * A one-term "phrase" degenerates to n_matches = tf.
   */
  def searchPhrase(spark: SparkSession, dir: String, phrase: Seq[String],
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(phrase.nonEmpty, "phrase needs at least one term")
    val uniq = phrase.distinct
    val keys = probeKeys(spark, uniq)
    val store = spark.read.format("cellstore").load(dir)
    val pos = visibleSlice(store
        .filter(col("rowKey").isInCollection(keys) && col("family") === "pos"))
      .select(split(col("qualifier").cast("string"), Sep).as("_q"),
        transform(split(col("value").cast("string"), ","),
          _.cast("int")).as("ps"))
      .select(col("_q").getItem(0).as("term"),
        col("_q").getItem(1).cast("bigint").as("doc_id"), col("ps"))
      .filter(col("term").isin(uniq: _*)) // exact re-check past hash collisions
    val perDoc = pos.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(
        struct(col("term"), col("ps")))).as("_m"))
      .filter(size(col("_m")) === uniq.size)
    val starts = filter(
      element_at(col("_m"), lit(phrase.head)),
      p => phrase.zipWithIndex.drop(1).map { case (t, i) =>
        array_contains(element_at(col("_m"), lit(t)), p + i)
      }.foldLeft(lit(true))(_ && _))
    val matched = perDoc
      .select(col("doc_id"), size(starts).cast("bigint").as("n_matches"))
      .filter(col("n_matches") > 0)
      .orderBy(col("n_matches").desc, col("doc_id").asc).limit(k)
    // rank over the k collected rows only — bounded input, safe window
    matched.withColumn("rank",
      row_number().over(
        Window.orderBy(col("n_matches").desc, col("doc_id").asc))
        .cast("bigint"))
  }

  /**
   * Keyword-in-context snippets for the top-k phrase hits: the ranked
   * hits come from the positional index ([[searchPhrase]]); the snippet
   * (±`context` tokens around the FIRST match) is cut from the raw
   * text of ONLY those k documents — the k-row hit list broadcasts
   * into a semi-join against the corpus, so the text of non-hits is
   * never materialized past the scan.
   */
  def phraseSnippets(spark: SparkSession, dir: String, docs: DataFrame,
      phrase: Seq[String], k: Int, context: Int = 3): DataFrame = {
    require(context >= 0, "context must be >= 0")
    val n = phrase.length
    val hits = searchPhrase(spark, dir, phrase, k)
    val withTk = docs.select(col("doc_id"), split(col("text"), " ").as("_tk"))
    val starts = filter(
      when(size(col("_tk")) >= n,
        sequence(lit(1), size(col("_tk")) - (n - 1))).otherwise(array()),
      p => phrase.zipWithIndex.map { case (t, i) =>
        element_at(col("_tk"), p + i) === t
      }.reduce(_ && _))
    val s = greatest(array_min(starts) - context, lit(1))
    val e = least(size(col("_tk")), array_min(starts) + (n - 1) + context)
    broadcast(hits).join(withTk, Seq("doc_id"))
      .select(col("doc_id"), col("n_matches"), col("rank"),
        concat_ws(" ", slice(col("_tk"), s, e - s + lit(1))).as("snippet"))
  }

  /**
   * Proximity (NEAR/w) search: documents where EVERY query term occurs
   * inside some `window`-token span, in any order — the relaxation
   * between bag-of-words ranking and exact [[searchPhrase]] adjacency.
   * Match count = number of positions of the rarest-in-doc term that
   * anchor such a span (each term's nearest occurrence within
   * [p−window+1, p+window−1]). Same pushed-GET probe, same per-doc
   * array-HOF shape, same top-k tail.
   */
  def searchNear(spark: SparkSession, dir: String, terms: Seq[String],
      window: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty, "need at least one term")
    require(window >= 1, "window must be >= 1")
    val uniq = terms.distinct
    val keys = probeKeys(spark, uniq)
    val store = spark.read.format("cellstore").load(dir)
    val pos = visibleSlice(store
        .filter(col("rowKey").isInCollection(keys) && col("family") === "pos"))
      .select(split(col("qualifier").cast("string"), Sep).as("_q"),
        transform(split(col("value").cast("string"), ","),
          _.cast("int")).as("ps"))
      .select(col("_q").getItem(0).as("term"),
        col("_q").getItem(1).cast("bigint").as("doc_id"), col("ps"))
      .filter(col("term").isin(uniq: _*))
    val perDoc = pos.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(
        struct(col("term"), col("ps")))).as("_m"))
      .filter(size(col("_m")) === uniq.size)
    // anchor on the first term's positions; a position p matches when
    // every other term has an occurrence within window-1 tokens
    val anchors = filter(
      element_at(col("_m"), lit(uniq.head)),
      p => uniq.drop(1).map { t =>
        exists(element_at(col("_m"), lit(t)),
          q => abs(q - p) < window)
      }.foldLeft(lit(true))(_ && _))
    val matched = perDoc
      .select(col("doc_id"), size(anchors).cast("bigint").as("n_matches"))
      .filter(col("n_matches") > 0)
      .orderBy(col("n_matches").desc, col("doc_id").asc).limit(k)
    matched.withColumn("rank",
      row_number().over(
        Window.orderBy(col("n_matches").desc, col("doc_id").asc))
        .cast("bigint"))
  }
}
