package graft.operators

import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * IVF (inverted-file) approximate nearest neighbor: k-means-partition the
 * corpus into `nlist` cells, search only the `nprobe` cells nearest to the
 * query. The 100 TB shape: centroids are tiny driver-side state (nlist×dim
 * floats) broadcast into the plan; the corpus is written partitioned by
 * cell id, so a query touches nprobe/nlist of the data — partition pruning
 * does the rest.
 *
 * Training is Lloyd's algorithm expressed as DataFrames: assignment is an
 * argmax over broadcast centroid literals (codegen'd dot products), the
 * update step is a posexplode → groupBy(cell, dim) → exact decimal sum —
 * one shuffle of nlist×dim rows per iteration, never a driver-side pass
 * over vectors.
 */
object IvfIndex {

  final case class Model(centroids: Seq[Seq[Float]]) {
    def nlist: Int = centroids.size

    /** Deterministic identity of this quantizer — SHA-256 over the
      * centroid float bits in order. Stamped into every base generation
      * ([[ModelFpFile]]) and verified on search/append: an OLD model
      * probes the WRONG cells of a rebuilt layout, and that mismatch
      * must fail loudly, not degrade recall silently (the
      * [[rebuildIndex]] contract, enforced instead of documented). */
    lazy val fingerprint: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val buf = java.nio.ByteBuffer.allocate(4)
      md.update(buf.putInt(nlist).array()); buf.clear()
      centroids.foreach(_.foreach { f =>
        md.update(buf.putInt(java.lang.Float.floatToIntBits(f)).array())
        buf.clear()
      })
      md.digest().map("%02x".format(_)).mkString
    }
  }

  /** Marker file inside each base slice carrying the layout's model
    * fingerprint — leading underscore, so parquet readers and the
    * DeltaLayout slice rules both ignore it. */
  val ModelFpFile = "_model.fp"

  /** Column: index of the nearest centroid (dot-product argmax — centroids
    * are L2-normalized at train time so dot ≡ cosine ranking). A single
    * O(nlist) aggregate fold, NOT an array_sort: this expression runs per
    * CORPUS row in training and assignment, and sorting nlist structs per
    * row is a log-factor of pure overhead on the hot path (measured on
    * the corpus-scaled nlist=256 fit at sf3). Strictly-greater keeps the
    * FIRST (lowest-index) cell on score ties — the same total order as
    * the probe sort and the oracle's `ORDER BY s DESC, cell ASC`. */
  private[graft] def nearestCell(model: Model, vec: org.apache.spark.sql.Column) =
    // codegen'd kernel since round 19 (graft.functions.NearestCentroid):
    // the former aggregate fold carried nlist typedlit centroid arrays and
    // evaluated interpreted per corpus row; same strictly-greater /
    // first-wins tie order, AnnKernelsSpec pins bit-equality against
    // ReferenceForms.nearestCellReference (test scope)
    graft.functions.AnnKernelFunctions.nearest_centroid(vec, model.centroids)

  private def normalize(v: Seq[Float]): Seq[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (n == 0) v else v.map(x => (x / n).toFloat)
  }

  /**
   * Train centroids with Lloyd's iterations. Deterministic BY CONSTRUCTION,
   * not by convention: seeds are the first `nlist` vectors by id, and the
   * update step sums each dimension as DECIMAL — decimal addition is exact
   * and associative, so the centroid is independent of partitioning and
   * task order (a plain `avg` over doubles is order-dependent at the ulp,
   * which made centroids — and every oracle literal generated from them —
   * a per-session lottery). The mean's single double division happens
   * driver-side on the exact decimal sum, so it is reproducible too.
   *
   * `stratifiedSeeds = true` swaps the first-`nlist` seeds for the vectors
   * at the (2i+1)/2·nlist vec_id QUANTILES — deterministic (exact
   * quantiles) and mass-proportional: a region holding fraction f of the
   * corpus receives ~f·nlist seeds, which is what lets [[rebuildIndex]]
   * split a drifted mega-cell (Lloyd's never moves a centroid into a
   * dense region no centroid already owns, so seed placement IS the
   * balance repair). Off by default: the plain seeding is part of the
   * established model contract for the query pack.
   */
  def train(corpus: DataFrame, nlist: Int, iters: Int = 3,
      stratifiedSeeds: Boolean = false): Model = {
    val seedRows = if (stratifiedSeeds) {
      val probs = (0 until nlist).map(i => (2.0 * i + 1) / (2 * nlist)).toArray
      val qs = corpus.stat.approxQuantile("vec_id", probs, 0.0)
        .map(_.toLong).distinct
      corpus.filter(col("vec_id").isin(qs: _*))
        .orderBy("vec_id").limit(nlist).select("embedding").collect()
    } else corpus.orderBy("vec_id").limit(nlist)
      .select("embedding").collect()
    var centroids = seedRows.map(_.getSeq[Float](0).toSeq).toSeq.map(normalize)

    (0 until iters).foreach { _ =>
      val model = Model(centroids)
      // cell materialized in its OWN projection BELOW the generator:
      // sharing a select with posexplode re-evaluates the nlist-way argmax
      // once per exploded dimension — a dim× hidden multiplier on the
      // assignment cost (the PqIndex.encode HOF re-eval trap, generator
      // flavor; measured 64× on the corpus-scaled nlist=128 fit at sf1)
      val assigned = corpus
        .select(col("vec_id"), col("embedding"),
          nearestCell(model, col("embedding")).as("cell"))
        .select(col("vec_id"), col("cell"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
      // float components round exactly into DECIMAL(27,12); the sum is
      // order-free, unlike avg() over doubles
      val means = assigned.groupBy("cell", "dim")
        .agg(sum(col("x").cast("decimal(27,12)")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val byCell = means.groupBy(_.getAs[Int]("cell"))
      centroids = centroids.indices.map { c =>
        byCell.get(c) match {
          case Some(rows) =>
            val dims = rows.map { r =>
              val mean = r.getAs[java.math.BigDecimal]("s").doubleValue() /
                r.getAs[Long]("n")
              r.getAs[Int]("dim") -> mean
            }.toMap
            normalize((0 until dims.size).map(d => dims(d).toFloat))
          case None => centroids(c)   // empty cell keeps its centroid
        }
      }
    }
    Model(centroids)
  }

  /** Corpus with its IVF cell assignment (persist partitioned by `cell`). */
  def assign(corpus: DataFrame, model: Model): DataFrame =
    corpus.withColumn("cell", nearestCell(model, col("embedding")))

  /**
   * Cell assignment plus the vector's cosine to ITS OWN centroid — the
   * quantity corpus topic-clustering and outlier mining both need. The
   * per-cell cosines are one array of codegen'd kernels indexed by the
   * assigned cell; cost is the same O(nlist·dim) the argmax already pays,
   * zero shuffles, model broadcast as literals.
   */
  def clusterAssign(corpus: DataFrame, model: Model): DataFrame = {
    val cosines = array(model.centroids.map(c =>
      VectorFunctions.cosine_sim(col("embedding"), typedlit(c))): _*)
    assign(corpus, model)
      .withColumn("_centroid_cos_raw", element_at(cosines, col("cell") + 1))
  }

  /** Per-cluster profile: population and the cosine mass in MICRO-UNITS
    * — each cosine quantized as `floor(x·10⁶ + 0.5)` (scaled-integer
    * half-up, BIGINT) and summed as longs. One hash aggregation; the sum
    * (not mean) keeps it order-free, and the floor-based quantization is
    * tie-rule-free: `round(x, 6)`/DECIMAL casts hit engine-specific
    * half-up-vs-half-even behavior exactly when a cosine lands on a
    * 7-digit `…5` tie, while `floor` is exact IEEE and the multiply/add
    * is the same double op on any engine. */
  def clusterProfiles(corpus: DataFrame, model: Model): DataFrame =
    clusterAssign(corpus, model)
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(floor(col("_centroid_cos_raw") * lit(1000000.0) + lit(0.5)))
          .as("cos_sum"))

  /** Vectors far from every topic: cosine to their own (nearest!)
    * centroid below `minCos` — the embedding-space noise filter for
    * corpus cleaning. Narrow: a per-row predicate, no shuffle. The
    * emitted (and filtered) cosine is quantized to 9 decimals — see
    * [[Similarity.q9]] — so the hashed output is ulp-robust. */
  def outliers(corpus: DataFrame, model: Model, minCos: Double): DataFrame =
    clusterAssign(corpus, model)
      .withColumn("centroid_cos", round(col("_centroid_cos_raw"), 9))
      .drop("_centroid_cos_raw")
      .filter(col("centroid_cos") < minCos)

  /** The `nprobe` closest cell ids for a query vector column (shared with
    * [[IvfPqIndex]] so both probe identically). */
  private[graft] def probeCellsColumn(
      model: Model, vec: org.apache.spark.sql.Column, nprobe: Int) =
    // codegen'd kernel since round 19 (graft.functions.ProbeCells): the
    // former array_sort carried nlist typedlit centroid arrays and an
    // interpreted comparator; same stable (score desc, cell asc) order,
    // AnnKernelsSpec pins bit-equality against
    // ReferenceForms.probeCellsColumnReference (test scope)
    graft.functions.AnnKernelFunctions.probe_cells(vec, model.centroids, nprobe)

  /**
   * Search: score queries only against corpus vectors in each query's
   * `nprobe` closest cells. The unfiltered instantiation of
   * [[searchFiltered]] (pred = true, which Catalyst folds away), so the
   * q9 rounding, self-exclusion, and (cosine desc, vec_id asc) tiebreak
   * — all oracle-replayed — live in exactly one body.
   */
  def search(
      assignedCorpus: DataFrame,
      queries: DataFrame,
      model: Model,
      k: Int,
      nprobe: Int): DataFrame =
    searchFiltered(assignedCorpus, queries, model, k, nprobe, lit(true))

  /**
   * PRE-FILTERED cell-pruned search — the "vector search WHERE clause" at
   * index scale ([[Similarity.filteredTopK]]'s contract composed with the
   * IVF layout): `pred` may reference corpus columns and `query_`-renamed
   * query columns; it applies BEFORE the top-k cut, so the result is the
   * true top-k of the eligible subset within the probed cells (recall <
   * 1 only through the probe, exactly as the unfiltered [[search]]).
   *
   * 100 TB shape: the cell equi-join still drives dynamic partition
   * pruning (only probed `cell=<i>/` directories open), and corpus-only
   * conjuncts of `pred` push below the join into the pruned scan — a
   * selective tenant/label filter cuts the probed fraction further, for
   * free. The corpus never shuffles.
   */
  def searchFiltered(
      assignedCorpus: DataFrame,
      queries: DataFrame,
      model: Model,
      k: Int,
      nprobe: Int,
      pred: org.apache.spark.sql.Column): DataFrame = {
    val q = queries.select(queries.columns.map {
      case "vec_id"    => col("vec_id").as("query_id")
      case "embedding" => col("embedding").as("query_vec")
      case c           => col(c).as(s"query_$c")
    }: _*)
      .withColumn("_probe",
        explode(probeCellsColumn(model, col("query_vec"), nprobe)))
      .withColumn("cell", col("_probe.cell"))
      .drop("_probe")
    val scored = assignedCorpus.join(broadcast(q), Seq("cell"))
      .filter(pred && col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        round(VectorFunctions.cosine_sim(col("embedding"), col("query_vec")), 9)
          .as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** [[searchFiltered]] over the persisted cell layout (dynamic partition
    * pruning + pushed corpus-side filter conjuncts). */
  def searchIndexFiltered(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      model: Model,
      k: Int,
      nprobe: Int,
      pred: org.apache.spark.sql.Column): DataFrame = {
    requireModelMatches(spark, path, model.fingerprint)
    searchFiltered(readIndex(spark, path), queries, model, k, nprobe, pred)
  }

  // --- physical layout -----------------------------------------------
  //
  // The index root is a directory of IMMUTABLE SLICES in the repo's
  // shared [[graft.streaming.DeltaLayout]] naming:
  //
  //   path/delta=base/cell=<i>/…        the initial build
  //   path/delta=b<batchId>/cell=<i>/…  one replay-idempotent append each
  //   path/delta=base@<N>/cell=<i>/…    a rebuild that folded ids ≤ N
  //
  // Every slice is cell-partitioned, so a probe of `nprobe` cells still
  // reads nprobe/nlist of the data (the unprobed `cell=` directories of
  // every slice are never opened). Slices land via stage-then-ONE-rename,
  // so readers never see a partial slice, a crashed writer leaves only an
  // ignored staging dir, and a REPLAYED append (foreachBatch retries its
  // uncommitted batch) finds its slice already present and writes nothing
  // — batch-id-addressed slices are the exactly-once mechanism.

  import graft.streaming.DeltaLayout
  import org.apache.hadoop.fs.Path

  /** Write `assigned` (must carry `cell`) as one immutable slice under
    * `root`. Returns false — writing nothing durable — when the slice
    * already exists: the slice NAME is the idempotency key. */
  private[operators] def writeSlice(assigned: DataFrame, root: String,
      sliceName: String, fp: Option[String] = None): Boolean =
    // staging name never parses as a slice (DeltaLayout anchors its
    // patterns), so readers ignore it at every crash point
    DeltaLayout.writeSlice(assigned.repartition(col("cell")), root,
      sliceName, partitionCols = Seq("cell"),
      markerFile = fp.map(ModelFpFile -> _))

  /** Replace the whole index root with a fresh `delta=base` slice (the
    * initial-build semantic; [[rebuildIndex]] is the atomic in-place
    * repair). `fp` stamps the layout's quantizer fingerprint into the
    * base slice — atomic with the slice commit. */
  private[operators] def replaceRoot(assigned: DataFrame, path: String,
      fp: Option[String] = None): Unit = {
    val fs = DeltaLayout.fileSystem(assigned.sparkSession, path)
    val p = new Path(path)
    if (fs.exists(p) && !fs.delete(p, true))
      throw new IllegalStateException(s"cannot clear index root $path")
    writeSlice(assigned, path, "delta=base", fp)
  }

  /** The newest live base generation's directory among `dirs`. */
  private def newestBaseDir(dirs: Seq[String]): Option[String] =
    dirs.filter(d => DeltaLayout.baseGen(new Path(d).getName).isDefined)
      .sortBy(d => DeltaLayout.baseGen(new Path(d).getName).get).lastOption

  /** The fingerprint stamped into the layout's NEWEST base generation,
    * if any (legacy layouts predate the marker — None skips the check,
    * a written marker enforces it). Reads the base stamp only — slice
    * cross-validation lives in [[liveSliceDirs]], which every data read
    * goes through. */
  def layoutFingerprint(spark: SparkSession, path: String): Option[String] =
    newestBaseDir(DeltaLayout.liveDirs(spark, path))
      .flatMap(base => DeltaLayout.readMarker(spark, s"$base/$ModelFpFile"))

  /** Loud mismatch guard: a model whose fingerprint disagrees with the
    * layout's stamp probes the WRONG cells (post-rebuild stale-model
    * serving) or routes appends into the wrong directories — both are
    * silent recall corruption without this check. Layouts without a
    * stamp (legacy) pass. */
  def requireModelMatches(spark: SparkSession, path: String,
      fingerprint: String): Unit =
    layoutFingerprint(spark, path).foreach { stamped =>
      if (stamped != fingerprint)
        throw new IllegalStateException(
          s"model/layout fingerprint mismatch under $path: layout carries " +
            s"${stamped.take(12)}…, caller passed ${fingerprint.take(12)}… — " +
            "the index was rebuilt; restart searches/ingest with the model " +
            "rebuildIndex returned")
    }

  /** The live slice directories of a persisted index, CROSS-VALIDATED:
    * every append slice carries the fingerprint of the model that
    * assigned its cells ([[appendToIndex]] stamps it), and a slice whose
    * stamp disagrees with the live base's was written against a model a
    * concurrent [[rebuildIndex]] has since replaced — its vectors sit in
    * the WRONG cells of the current layout, so reading it would corrupt
    * recall silently. Fail loudly instead; unstamped slices (legacy, or
    * bases predating the marker) pass. */
  private[graft] def liveSliceDirs(spark: SparkSession, path: String): Seq[String] = {
    val dirs = DeltaLayout.liveDirs(spark, path)
    require(dirs.nonEmpty, s"no live index slices under $path")
    for {
      baseFp <- newestBaseDir(dirs)
        .flatMap(b => DeltaLayout.readMarker(spark, s"$b/$ModelFpFile"))
      d <- dirs if DeltaLayout.batchId(new Path(d).getName).isDefined
      sliceFp <- DeltaLayout.readMarker(spark, s"$d/$ModelFpFile")
      if sliceFp != baseFp
    } throw new IllegalStateException(
      s"orphaned append slice $d: written against model ${sliceFp.take(12)}…, " +
        s"layout carries ${baseFp.take(12)}… — a rebuild committed while the " +
        "append was in flight; its vectors are assigned to the OLD model's " +
        "cells. Delete the slice and re-ingest its batch against the " +
        "rebuilt model.")
    dirs
  }

  /** One DataFrame over every live slice — `cell` stays a partition
    * column of the multi-root scan, so the probe join's dynamic
    * partition pruning works exactly as on a single slice. `basePath`
    * anchors partition discovery at the index root (the slice dirs
    * themselves parse as a `delta=` partition level, which the reader
    * drops — only the LISTED live slices are read, so staging dirs and
    * folded slices stay invisible regardless). */
  def readIndex(spark: SparkSession, path: String): DataFrame =
    readSlices(spark, path, liveSliceDirs(spark, path))

  /** [[readIndex]]'s reader body over an EXPLICIT slice snapshot — split
    * out so [[rebuildIndex]] reads exactly the dirs its commit guards
    * were snapshotted against (reading a fresh listing while guarding an
    * older one reopens the silent-loss window the guards close). */
  private[operators] def readSlices(spark: SparkSession, basePath: String,
      dirs: Seq[String]): DataFrame =
    spark.read.option("basePath", basePath).parquet(dirs: _*).drop("delta")

  /** The next free append batch id: above every live slice's id AND the
    * newest base's folded-through generation. (A manual-append + one
    * streaming-ingest mix on one index must share this id space — see
    * [[graft.streaming.VectorIngest]].) */
  private[graft] def nextBatchId(spark: SparkSession, path: String): Long =
    DeltaLayout.nextBatchId(spark, path)

  /** Commit a retrained, re-assigned layout as the next base GENERATION:
    * stage under [[DeltaLayout.Staging]], fold-commit with ONE rename,
    * GC the folded slices. A crash at ANY point leaves a readable index —
    * before the rename the old live set is fully intact; after it the
    * new base wins [[DeltaLayout.liveDirs]] and the stale slices are
    * garbage the next rebuild (or [[DeltaLayout.gcStale]]) sweeps.
    *
    * `snapshot` is the live set the rebuild's INPUT was read from —
    * taken by the caller BEFORE training, not re-listed here: the guards
    * ([[DeltaLayout.guardedCommit]] — abort pre-rename, refuse-GC
    * post-rename) compare against the input baseline, so a slice
    * appended at any point after the input was fixed — including during
    * the long training window — ends loud, never counted into the fold
    * generation while absent from the staged base (the round-16 closure
    * compared against a post-training listing, which silently folded
    * exactly that window). VectorService.coordinatedRebuild drains
    * ingest first, so tripping a guard means an uncoordinated writer;
    * the append side's own post-rename verify covers the mirror-image
    * interleaving. */
  private[graft] def commitRebuild(spark: SparkSession, path: String,
      assigned: DataFrame, fp: Option[String], snapshot: Seq[String]): Unit = {
    val fs = DeltaLayout.fileSystem(spark, path)
    val staging = new Path(s"$path/${DeltaLayout.Staging}")
    if (fs.exists(staging) && !fs.delete(staging, true))
      throw new IllegalStateException(s"cannot clear stale staging $staging")
    assigned
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(staging.toString)
    // the NEW quantizer's fingerprint rides in the staged generation —
    // the atomic rename flips layout and stamp together, so there is no
    // window where a stale model passes the mismatch guard
    fp.foreach(v =>
      DeltaLayout.writeMarker(spark, s"$staging/$ModelFpFile", v))
    val liveNames = snapshot.map(d => new Path(d).getName)
    val curGen = liveNames.flatMap(DeltaLayout.baseGen).foldLeft(-1L)(_ max _)
    // base@N folds batch ids ≤ N; a rebuild of a pure base claims the
    // next unseen id so generations strictly increase
    val gen = liveNames.flatMap(DeltaLayout.batchId)
      .foldLeft(curGen + 1)(_ max _)
    DeltaLayout.guardedCommit(spark, path, snapshot, gen, "rebuild",
      "drain ingest (VectorService.coordinatedRebuild), re-ingest the " +
        "raced batches against the rebuilt model, then gcStale")
  }

  /**
   * Persist the assigned corpus as the index's physical layout: one
   * partition directory per cell (`cell=<i>/`) inside the base slice.
   * This is the design's 100 TB claim made real: a probe of `nprobe`
   * cells reads nprobe/nlist of the data because the directories for
   * unprobed cells are never opened.
   */
  def writeIndex(corpus: DataFrame, model: Model, path: String): Unit =
    replaceRoot(assign(corpus, model), path, Some(model.fingerprint))

  /** Index maintenance: route NEW vectors into the existing cell layout
    * without rebuilding — centroids stay fixed (the standard trade: cell
    * balance drifts as the corpus grows; [[driftReport]] measures it,
    * [[rebuildIndex]] repairs it). Appends only touch the new vectors'
    * cell directories, so maintenance cost ∝ the delta, and searches keep
    * pruning the union of old and new slices per cell. The no-id overload
    * allocates the next free batch id (batch callers); streaming ingest
    * passes its OWN micro-batch id so a foreachBatch REPLAY of an
    * uncommitted batch finds the slice already present and appends
    * nothing — exactly-once by slice name. */
  def appendToIndex(delta: DataFrame, model: Model, path: String): Unit = {
    appendToIndex(delta, model, path,
      nextBatchId(delta.sparkSession, path))
    ()
  }

  /** Batch-id-addressed append; false = slice existed (replay skipped).
    *
    * RACE-CLOSED against a concurrent [[rebuildIndex]] (check-then-act on
    * the layout stamp is not enough — a rebuild can commit between the
    * check and the slice rename):
    *  1. the slice itself is STAMPED with the writer's fingerprint, so
    *     even a slice that lands unnoticed is rejected by every later
    *     [[liveSliceDirs]] read instead of silently serving wrong cells;
    *  2. after the rename the layout stamp is RE-verified — on mismatch
    *     the just-committed slice is deleted and the append throws, so
    *     the common interleaving self-heals instead of leaving the
    *     orphan for readers to trip on;
    *  3. [[commitRebuild]] refuses to GC a concurrent slice it did not
    *     fold (the batchId ≤ gen flavor, which would be silent LOSS). */
  def appendToIndex(delta: DataFrame, model: Model, path: String,
      batchId: Long): Boolean = {
    requireModelMatches(delta.sparkSession, path, model.fingerprint)
    appendSliceVerified(assign(delta, model), path, batchId,
      model.fingerprint)
  }

  /** Stamped, post-rename-VERIFIED slice append — the write half of the
    * append/rebuild race closure, shared by the float and composed code
    * layouts (before round 17 the [[IvfPqIndex]]/[[IvfBqIndex]] appends
    * carried the stamp but skipped the re-verify, so the common
    * interleaving left an orphan that failed every LATER read instead
    * of self-healing here by rollback). Returns false when the slice
    * already existed (replay skipped). */
  private[graft] def appendSliceVerified(encoded: DataFrame,
      path: String, batchId: Long, fp: String): Boolean = {
    val spark = encoded.sparkSession
    val wrote = writeSlice(encoded, path, s"delta=b$batchId", Some(fp))
    if (wrote) layoutFingerprint(spark, path).foreach { stamped =>
      if (stamped != fp) {
        val fs = DeltaLayout.fileSystem(spark, path)
        fs.delete(new Path(s"$path/delta=b$batchId"), true)
        throw new IllegalStateException(
          s"append raced a rebuild under $path: slice b$batchId was assigned " +
            s"with model ${fp.take(12)}… but the layout now " +
            s"carries ${stamped.take(12)}… — the slice was rolled back; " +
            "re-ingest the batch against the rebuilt model")
      }
    }
    wrote
  }

  /** Per-cell population of a persisted index, FOOTER METADATA ONLY — the
    * [[StoreStats.describe]] device applied to the cell layout: list each
    * `cell=<i>/` directory, sum its parquet row-group counts; no data
    * pages read, no Spark job. Driver-side cost is one footer per index
    * file — nlist directories with compaction-bounded file counts, the
    * same order as planning a scan of the index. */
  def cellStats(spark: SparkSession, path: String): DataFrame = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val fs = DeltaLayout.fileSystem(spark, path)
    // per-(slice, cell) footer counts, summed per cell across the live
    // slices — nlist × slices entries of driver-side arithmetic
    val rows = liveSliceDirs(spark, path).flatMap { slice =>
      fs.listStatus(new Path(slice))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
        .map { cellDir =>
          val cell = cellDir.getPath.getName.stripPrefix("cell=").toInt
          val n = fs.listStatus(cellDir.getPath)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet") &&
              f.getLen > 0)
            .map { f =>
              val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf),
                HadoopReadOptions.builder(conf).build())
              try r.getRowGroups.asScala.map(_.getRowCount).sum
              finally r.close()
            }.sum
          (cell, n)
        }
    }.groupBy(_._1).map { case (c, ns) => (c, ns.map(_._2).sum) }
      .toSeq.sortBy(_._1)
    import spark.implicits._
    rows.toDF("cell", "n_vectors")
  }

  /** One-row balance verdict over [[cellStats]]: min/mean/max cell
    * population, the max/mean skew ratio, and `drifted` when that ratio
    * exceeds `maxSkew` — "does this index need a retrain?" without
    * touching vector data. A drifted index still answers correctly
    * (probing is by centroid, not size); what degrades is the prune
    * fraction — a mega-cell makes every probe that hits it read far more
    * than nprobe/nlist of the corpus, so drift is a PERFORMANCE alarm,
    * and the threshold trades rebuild cost against probe cost. */
  def driftReport(spark: SparkSession, path: String,
      maxSkew: Double = 2.0): DataFrame =
    cellStats(spark, path).agg(
      count(lit(1)).cast("bigint").as("n_cells"),
      min(col("n_vectors")).as("min_vectors"),
      round(avg(col("n_vectors")), 2).as("mean_vectors"),
      max(col("n_vectors")).as("max_vectors"),
      round(max(col("n_vectors")) / avg(col("n_vectors")), 4).as("skew"))
      .withColumn("drifted", col("skew") > maxSkew)

  /** Retrain on the CURRENT index contents (base + every appended slice)
    * and commit the retrained layout as the next base generation — the
    * repair [[driftReport]] calls for. CRASH-ATOMIC by the
    * [[commitRebuild]] single-rename discipline: a crash at any point
    * leaves a readable index (before the commit the old live set is
    * fully intact; after it the new base wins). Returns the new model —
    * centroids move, so searches must use it (ENFORCED CONTRACT since
    * round 15: the new generation carries the new fingerprint, and a
    * stale model fails [[requireModelMatches]] loudly on the next
    * search or append instead of silently probing the wrong cells). */
  def rebuildIndex(spark: SparkSession, path: String, nlist: Int,
      iters: Int = 3): Model = {
    // snapshot the live set ONCE, before training, and read exactly
    // these dirs — the commit guards compare against this same baseline
    // (see commitRebuild's contract)
    val snapshot = liveSliceDirs(spark, path)
    val vectors = readSlices(spark, path, snapshot)
      .select("vec_id", "embedding")
    val model = train(vectors, nlist, iters, stratifiedSeeds = true)
    commitRebuild(spark, path, assign(vectors, model),
      Some(model.fingerprint), snapshot)
    model
  }

  /**
   * Search the persisted index. [[search]]'s equi-join on `cell` against the
   * broadcast (query × probe-cell) side triggers DYNAMIC PARTITION PRUNING:
   * Spark reuses the broadcast to evaluate the probed cell set and skips
   * every other partition directory at scan time — the plan carries a
   * `dynamicpruningexpression` partition filter (asserted in IvfSessionSpec).
   */
  def searchIndex(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      model: Model,
      k: Int,
      nprobe: Int): DataFrame = {
    requireModelMatches(spark, path, model.fingerprint)
    search(readIndex(spark, path), queries, model, k, nprobe)
  }

  /**
   * Cell count sized to the corpus — the [[Similarity.scaledPlanes]]
   * discipline applied to the IVF family: the smallest power-of-two
   * `nlist ∈ [minNlist, maxNlist]` with `n ≤ targetCell · nlist`, so
   * expected cell occupancy (and with it the per-probe scan cost) holds
   * roughly constant across corpus decades. A FIXED nlist is
   * fraction-of-corpus per query by accident, not by contract: cells
   * fatten linearly with the corpus, so every probe's cost grows with n
   * even though recall looks stable. Integer ladder, no float log2.
   */
  def scaledNlist(n: Long, targetCell: Long = 256L,
      minNlist: Int = 8, maxNlist: Int = 4096): Int = {
    var nl = minNlist
    while (nl < maxNlist && n > targetCell * nl) nl *= 2
    nl
  }

  /** Probes for a scaled cell count: ⌊√nlist⌋ with a floor of 2. A fixed
    * nprobe over a growing nlist probes a vanishing fraction of centroid
    * space (recall decays); a fixed FRACTION re-creates linear per-query
    * cost. √nlist is the standard compromise — probed candidates grow as
    * √(n/targetCell)·targetCell, decade-sublinear, while the probed
    * fraction shrinks slowly enough that recall holds (measured: see
    * AnnRecall.Tiers scaladoc). ⌊√8⌋ = 2 keeps the verify-scale fixtures
    * bit-identical to the fixed-parameter era. */
  def scaledNprobe(nlist: Int): Int =
    math.max(2, math.sqrt(nlist.toDouble).toInt)

  /** Trained models memoized per (corpus, nlist, iters): an IVF index is
    * BUILT once and SEARCHED many times — amortizing the k-means fit across
    * queries is the production shape (at 100 TB the model would persist
    * next to the cell-partitioned corpus, like any index artifact). */
  private val models = new graft.Memo[String, Model]

  /** The one model of this session, if any — lets graft.queries generate the
    * IVF oracle SQL from the exact centroids the query used. */
  def cachedModel: Option[Model] = models.only

  /** The one session model the query pack shares (same key as
    * [[ivfQuery]], so `cachedModel` stays unambiguous for the oracle
    * generators no matter which query trains first). */
  private[graft] def packModel(spark: SparkSession, sfDir: String): Model = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    // corpus-sized nlist (decade-stable occupancy — [[scaledNlist]]); the
    // size is the memoized catalog count (Tables.rowCount), and the model
    // is memoized so the fit amortizes across the whole ANN query pack
    val nl = scaledNlist(Tables.rowCount(spark, sfDir, "embeddings"))
    models(s"$sfDir#nlist=$nl#iters=2")(train(emb, nlist = nl, iters = 2))
  }

  /** Query-pack adapter: per-cluster population + cosine mass. */
  def clustersQuery(spark: SparkSession, sfDir: String): DataFrame =
    clusterProfiles(Tables.load(spark, sfDir, "embeddings"),
      packModel(spark, sfDir))
      .select(col("cell"), col("n_vectors"), col("cos_sum"))

  /** Query-pack adapter: embedding outliers below cosine 0.25. */
  def outliersQuery(spark: SparkSession, sfDir: String): DataFrame =
    outliers(Tables.load(spark, sfDir, "embeddings"),
      packModel(spark, sfDir), minCos = 0.25)
      .select(col("vec_id"), col("cell"), col("centroid_cos"))

  /** The one persisted pack index per (JVM, corpus): model + layout dir. */
  private def packIndex(spark: SparkSession, sfDir: String): (Model, String) = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val model = packModel(spark, sfDir)
    (model, graft.WorkDirs.once(s"ivf_$sfDir")(writeIndex(emb, model, _)))
  }

  /** Query-pack adapter: train (or reuse) a small index, persist it
    * cell-partitioned (once), search the first 5 vectors through the
    * partition-pruned layout. */
  def ivfQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val (model, dir) = packIndex(spark, sfDir)
    searchIndex(spark, dir, emb.filter(col("vec_id") < 5), model, k = 20,
      nprobe = scaledNprobe(model.nlist))
  }

  /** Index-served ANN leg for the retrieval capstones (q_hybrid_search /
    * q_rag_e2e): search the SHARED pack index — partition-pruned cell
    * layout, serving probe — for the query vectors `pred` selects. This
    * replaces the capstones' scan-bound `bruteForceTopK` leg, the last
    * linear-in-corpus retrieval cost: per query the scan now opens
    * nprobe/nlist of the corpus (≈√decade growth), and the exact pass
    * survives only as the recall-gate truth (q_ann_leg_recall). */
  def packSearch(spark: SparkSession, sfDir: String,
      pred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val (model, dir) = packIndex(spark, sfDir)
    // serving probe = the AUTOTUNED decision off the memoized curve
    // (round 16) — the budget the measured recall/cost trade justifies,
    // not the √nlist heuristic; [[servingNprobe]] bounds it to the
    // heuristic band so the scale contract survives a degenerate curve
    searchIndex(spark, dir, emb.filter(pred), model, k,
      nprobe = servingNprobe(spark, sfDir))
  }

  /** Query-pack adapter: same-label PRE-FILTERED search through the
    * persisted layout — the multi-tenant ANN shape at index scale
    * (q_ann_filtered's contract with cell pruning on top). */
  def ivfFilteredQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val (model, dir) = packIndex(spark, sfDir)
    searchIndexFiltered(spark, dir, emb.filter(col("vec_id") < 5), model,
      k = 10, nprobe = scaledNprobe(model.nlist),
      pred = col("label") === col("query_label"))
  }

  /** The nprobe ladder the probe curve measures: doubling steps capped at
    * nlist, always including the pack default [[scaledNprobe]]. */
  def probeLadder(nlist: Int): Seq[Int] =
    (Iterator.iterate(1)(_ * 2).takeWhile(_ <= nlist).toSeq :+
      scaledNprobe(nlist)).distinct.sorted

  /**
   * Driver-verified recall/cost curve over the `nprobe` knob: one row per
   * ladder step with the probed CANDIDATE count (the cost: pairs scored
   * after cell pruning) and recall@k against the exact scan-bound
   * baseline (the quality). This is the tuning artifact a production
   * deployment reads to pick its probe budget — produced by the engine
   * and hash-checked against the relational replay, so a probe-selection
   * or pruning regression shows up as a wrong COUNT, not a vague slowdown.
   *
   * Cost shape: each ladder step is one cell-pruned join (the same plan
   * as [[searchIndex]]); the exact baseline is one scan-bound pass — the
   * AnnRecall-gate price, paid once.
   */
  def probeCurve(spark: SparkSession, path: String, corpus: DataFrame,
      queries: DataFrame, model: Model, k: Int): DataFrame =
    probeCurveWith(spark, path, corpus, queries, model, k)(
      (q, np) => searchIndex(spark, path, q, model, k, np))

  /** The curve machinery with the per-step SEARCH pluggable — the
    * composed code layouts ([[IvfBqIndex.probeCurve]],
    * [[IvfPqIndex.probeCurve]]) measure their serving decisions off the
    * same artifact shape (nprobe, n_candidates, n_matches, recall_micro),
    * so [[servingDecision]]/[[ServingProbe]] read every layout kind's
    * curve identically. The candidate COUNT is the cell-pruned join over
    * whatever rows the layout stores (floats or codes — same count by
    * construction: the coarse stage decides what is read). */
  private[graft] def probeCurveWith(spark: SparkSession, path: String,
      corpus: DataFrame, queries: DataFrame, coarse: Model, k: Int)(
      search: (DataFrame, Int) => DataFrame): DataFrame = {
    // the exact scan-bound baseline is the curve's most expensive leg:
    // checkpoint it once (the mmrSelect convention) instead of
    // re-executing it inside every ladder step's join
    val truth = Similarity.bruteForceTopK(corpus, queries, k)
      .select("query_id", "vec_id")
      .localCheckpoint()
    val assigned = readIndex(spark, path)
    // recall denominator = the truth set's OWN size, not a queries×k
    // literal (the serviceAuditQuery discipline): on a corpus smaller
    // than k+1 the literal understates recall silently, so a measured
    // curve could never meet its target and servingDecision would ship
    // the heuristic unflagged
    val denom = truth.count()
    probeLadder(coarse.nlist).map { np =>
      val probed = queries.select(
        col("vec_id").as("query_id"),
        explode(probeCellsColumn(coarse, col("embedding"), np)).as("probe"))
        .select(col("query_id"), col("probe.cell").as("cell"))
      val cands = assigned.join(broadcast(probed), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .agg(count(lit(1)).as("n_candidates"))
      val matches = search(queries, np)
        .select("query_id", "vec_id")
        .join(truth, Seq("query_id", "vec_id"))
        .agg(count(lit(1)).as("n_matches"))
      // 1-row × 1-row audit assembly (the TableStats convention)
      cands.crossJoin(matches).select(
        lit(np.toLong).as("nprobe"),
        col("n_candidates"),
        col("n_matches"),
        expr(s"n_matches * 1000000 div $denom").as("recall_micro"))
    }.reduce(_.unionAll(_))
  }

  /** The computed curve memoized per corpus as DRIVER ROWS (≤ log₂ nlist
    * + 1 of them): the curve is the tuning ARTIFACT — q_ivf_probe_curve
    * materializes it, q_ivf_autotune reads the decision off it. Without
    * the memo the autotune re-executed the whole ladder (including the
    * scan-bound exact baseline) that the curve query had just paid for. */
  private val curves = new graft.Memo.Collected[String]

  /** Query-pack adapter: the probe curve over the pack index, k = 20,
    * first 5 vectors as queries. */
  def probeCurveQuery(spark: SparkSession, sfDir: String): DataFrame = {
    curves(spark, sfDir) {
      val emb = Tables.load(spark, sfDir, "embeddings")
      val (model, dir) = packIndex(spark, sfDir)
      probeCurve(spark, dir, emb, emb.filter(col("vec_id") < 5), model, k = 20)
    }
  }

  /** Close the tuning loop [[probeCurve]] opens: pick the CHEAPEST ladder
    * step whose measured recall meets `targetMicro` — the probe budget a
    * production deployment should run at — falling back to the deepest
    * (highest-recall) step when no step qualifies. One decision row
    * (nprobe, cost, quality, meets_target), derived from the curve by
    * integer comparison only, so the driver's oracle re-derives the same
    * decision from the replayed curve: a probe-selection regression
    * flips the CHOICE, not just a number on a chart. The windowless
    * orderBy is scale-bounded: the curve is one row per ladder step
    * (≤ log₂ nlist + 1). */
  def autotuneNprobe(curve: DataFrame, targetMicro: Long): DataFrame = {
    val ok = col("recall_micro") >= lit(targetMicro)
    curve
      .orderBy(ok.desc,
        when(ok, col("nprobe")).otherwise(-col("nprobe")).asc)
      .limit(1)
      .select(col("nprobe"), col("n_candidates"), col("n_matches"),
        col("recall_micro"), ok.as("meets_target"))
  }

  /** Query-pack adapter: the autotuned probe budget at a 0.9 recall
    * target over the pack index's curve. */
  def autotuneQuery(spark: SparkSession, sfDir: String): DataFrame =
    autotuneNprobe(probeCurveQuery(spark, sfDir), targetMicro = 900000L)

  /** The serving probe a measured curve justifies — [[autotuneNprobe]]'s
    * choice (cheapest ladder step meeting `targetMicro` — the PER-INDEX
    * recall target, default 0.9) BOUNDED by the scale contract: when no
    * step qualifies, or the qualifying step costs more than 2×⌊√nlist⌋,
    * fall back to / cap at the heuristic band — a curve that needs more
    * than twice the heuristic to hit its target is a rebuild signal,
    * not a serving budget (serving near nlist would reopen the linear
    * path the index exists to close). Recall is monotone in nprobe
    * (probed cells are supersets), so every branch serves at ≥ the
    * probed recall of its own band. */
  def servingDecision(curve: DataFrame, nlist: Int,
      targetMicro: Long = ServingProbe.DefaultTargetMicro): Int = {
    val d = autotuneNprobe(curve, targetMicro).head()
    val heuristic = scaledNprobe(nlist)
    if (!d.getAs[Boolean]("meets_target")) heuristic
    else math.min(d.getAs[Long]("nprobe").toInt, 2 * heuristic)
  }

  /** The pack index's serving probe — [[ServingProbe.decide]] keyed
    * `pack:<corpus>` over the memoized probe curve, closing the loop
    * q_ivf_autotune opens: capstone legs serve at the probe budget the
    * measured curve justifies instead of the √nlist heuristic.
    * `targetMicro` is the per-index recall-target knob (capstone floors
    * are pinned at the default). */
  def servingNprobe(spark: SparkSession, sfDir: String,
      targetMicro: Long = ServingProbe.DefaultTargetMicro): Int = {
    val (model, _) = packIndex(spark, sfDir)
    ServingProbe.decide(s"pack:$sfDir", model.nlist, targetMicro)(
      probeCurveQuery(spark, sfDir))
  }

  // --- rebuild lifecycle audit (q_ivf_rebuild) -------------------------

  /** Build-time facts of the audit: captured once per (JVM, corpus) when
    * the lifecycle runs — the pre-repair health numbers come from the
    * PRE-REBUILD footers, which the rebuild then replaces. */
  final case class RebuildAudit(dir: String, rebuilt: Model, nTotal: Long,
      beforeSkewMicro: Long, beforeDrifted: Boolean)

  private val rebuildAudits = new graft.Memo[String, RebuildAudit]

  /** The one rebuilt model of this session, if any — the oracle generator
    * replays the AFTER-side populations and the recall probe from these
    * exact centroids. */
  def cachedRebuiltModel: Option[Model] = rebuildAudits.only.map(_.rebuilt)

  /** Delta id offsets for the audit's skewed ingest — far above every
    * fixture's vec_id domain (scaled fixtures reach ~9e9). */
  val RebuildDeltaOffsets: Seq[Long] = (1L to 4L).map(_ * 1000000000000L)

  /** Footer-only health triple (nonEmptyCells, total, skewMicro): the
    * [[driftCheckQuery]] arithmetic computed driver-side — the integer
    * product stays exact in the double, so this is bit-identical to the
    * DataFrame/SQL formulation. */
  private def skewStats(spark: SparkSession, dir: String): (Long, Long, Long) = {
    val pops = cellStats(spark, dir).collect().map(_.getLong(1))
    val (nCells, total, mx) = (pops.length.toLong, pops.sum, pops.max)
    val skewMicro = math.floor(
      (mx * nCells).toDouble / total.toDouble * 1000000.0 + 0.5).toLong
    (nCells, total, skewMicro)
  }

  /** Run the index lifecycle ONCE per (JVM, corpus), the way ops runs it:
    * build the base layout from the pack model → stage a SKEWED delta
    * (the donor cell — largest population, lowest id tiebreak — cloned at
    * each [[RebuildDeltaOffsets]] offset, so one region gains 4× its
    * mass) → stream it in through [[graft.streaming.VectorIngest]]
    * (exactly-once slices) → capture the drifted health numbers from the
    * footers → [[rebuildIndex]] (stratified reseed splits the mega-cell).
    * Every stage is the already-verified piece; q_ivf_rebuild's oracle
    * recomputes both verdicts from the cached before/after centroids. */
  private def rebuildAudit(spark: SparkSession, sfDir: String): RebuildAudit =
    rebuildAudits(sfDir) {
      val emb = Tables.load(spark, sfDir, "embeddings")
        .select("vec_id", "embedding")
      val before = packModel(spark, sfDir)
      val dir = graft.WorkDirs.dir(s"ivf_rebuild_$sfDir")
      writeIndex(emb, before, dir)
      val assigned = assign(emb, before)
      val donorCell = assigned.groupBy("cell").count()
        .orderBy(col("count").desc, col("cell").asc)
        .limit(1).head().getAs[Int]("cell")
      val donors = assigned.filter(col("cell") === donorCell)
        .select("vec_id", "embedding")
      val delta = RebuildDeltaOffsets.map(off =>
          donors.select((col("vec_id") + lit(off)).as("vec_id"),
            col("embedding")))
        .reduce(_ unionByName _)
      // ops-shaped ingest: stage the delta as files, stream it through
      // VectorIngest's exactly-once slice appends, drain, stop
      val staging = graft.WorkDirs.dir(s"ivf_rebuild_delta_$sfDir")
      delta.write.mode("overwrite").parquet(staging)
      val q = graft.streaming.VectorIngest.start(
        spark.readStream.schema(delta.schema).parquet(staging),
        before, dir, checkpoint = s"$dir.ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      try q.awaitTermination() finally q.stop()
      val (_, nTotal, skew0) = skewStats(spark, dir)
      val rebuilt = rebuildIndex(spark, dir, scaledNlist(nTotal), iters = 2)
      RebuildAudit(dir, rebuilt, nTotal, skew0, skew0 > 2000000L)
    }

  /** Probe depth for the post-rebuild verification search: 2× the
    * serving default (capped at nlist). The audit's recall floor asserts
    * "the repaired index still ANSWERS", not "the serving budget is
    * generous" — the delta deliberately concentrates duplicate mass in
    * one region, which drags recall at the √nlist serving probe (0.47
    * measured at sf0.01) without any index defect; doubling the probe
    * separates the two failure modes (0.68 at the same fixture). */
  def auditNprobe(nlist: Int): Int = math.min(nlist, 2 * scaledNprobe(nlist))

  /** Query-pack adapter: the one-row lifecycle artifact — ingest-time
    * totals, the pre-repair drift verdict, the post-repair health
    * (recomputed live from the rebuilt layout's footers), and the
    * rebuilt index's recall@20 against the exact truth over the ingested
    * corpus (floor 0.5 — the ivf tier's — at the [[auditNprobe]] depth).
    * The oracle recomputes populations for BOTH verdicts from the cached
    * before/after centroids' assignments, so a row lost or
    * double-written anywhere in the ingest → rebuild pipeline flips the
    * hash. */
  def rebuildAuditQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val a = rebuildAudit(spark, sfDir)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val contents = readIndex(spark, a.dir).select("vec_id", "embedding")
    val truth = Similarity.bruteForceTopK(contents, queries, k = 20)
      .select("query_id", "vec_id").localCheckpoint()
    val got = searchIndex(spark, a.dir, queries, a.rebuilt, k = 20,
        nprobe = auditNprobe(a.rebuilt.nlist))
      .select("query_id", "vec_id")
    val recall = got.join(truth, Seq("query_id", "vec_id"))
      .agg(count(lit(1)).as("n_matches"))
    // recall denominator = the truth set's own size, not a queries×k
    // literal (the serviceAuditQuery discipline — a literal understates
    // recall silently on a corpus smaller than k+1)
    val denom = truth.count()
    val after = cellStats(spark, a.dir).agg(
        count(lit(1)).cast("bigint").as("after_n_cells"),
        max(col("n_vectors")).as("_mx"),
        sum(col("n_vectors")).as("_sum"))
      .select(col("after_n_cells"),
        floor(col("_mx").cast("double") * col("after_n_cells").cast("double") /
            col("_sum").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("bigint").as("after_skew_micro"))
      .withColumn("after_drifted", col("after_skew_micro") > lit(2000000L))
    // 1-row × 1-row audit assembly (the TableStats convention)
    after.crossJoin(recall).select(
      lit(a.nTotal).as("n_total"),
      lit(a.beforeSkewMicro).as("before_skew_micro"),
      lit(a.beforeDrifted).as("before_drifted"),
      col("after_n_cells"), col("after_skew_micro"), col("after_drifted"),
      col("n_matches"),
      expr(s"n_matches * 1000000 div $denom").as("recall_micro"),
      (expr(s"n_matches * 1000000 div $denom") >= lit(500000L))
        .as("within_floor"))
  }

  /**
   * Driver-checkable index-health artifact — [[driftReport]] with every
   * emitted number integer-exact so DuckDB can replay it: cell count,
   * min/max cell population, the mean in exact integer micro-units
   * (`sum·10⁶ div n_cells`), and the max/mean skew ratio as a
   * scaled-integer half-up micro value (the engine's standard float
   * quantization — same double ops in the same order on both engines).
   * `drifted` flips when skew exceeds 2×. The engine side reads FOOTER
   * METADATA only ([[cellStats]] — no data pages); the oracle recomputes
   * populations from the cached centroids' assignment, so a row lost or
   * double-written anywhere in the cell layout flips the driver hash —
   * the ops check "is the physical index exactly the logical assignment,
   * and is it still balanced" as one verified row.
   */
  def driftCheckQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, dir) = packIndex(spark, sfDir)
    cellStats(spark, dir).agg(
        count(lit(1)).cast("bigint").as("n_cells"),
        min(col("n_vectors")).as("min_vectors"),
        max(col("n_vectors")).as("max_vectors"),
        sum(col("n_vectors")).as("_sum"))
      .select(
        col("n_cells"), col("min_vectors"), col("max_vectors"),
        expr("_sum * 1000000 div n_cells").as("mean_micro"),
        floor(col("max_vectors").cast("double") * col("n_cells").cast("double") /
            col("_sum").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("bigint").as("skew_micro"))
      .withColumn("drifted", col("skew_micro") > lit(2000000L))
  }
}
