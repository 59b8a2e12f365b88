package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{CellBloom, CellStoreCompaction, CellStoreSource, HadoopConf}

/**
 * `hbase hbck` for the cell store: consistency VERDICTS on top of the
 * per-file view [[StoreStats]] renders. Every check is footer/listing
 * only — no data pages — and each file's footer is parsed ONCE and
 * shared by all checks, so diagnosing a 100 TB store costs one metadata
 * sweep; the MOB checks ([[diagnoseMob]]) additionally read only the two
 * BIGINT address columns of each side (never blob bytes), in one join.
 *
 * Statuses: `OK` (invariant holds), `INFO` (legal state with an
 * operational follow-up — e.g. overlapping region files want a
 * compaction), `WARN` (degraded but correct — e.g. missing bloom
 * sidecars turn absent-key GETs into footer probes), `ERROR` (a reader
 * can observe wrong/missing data — e.g. a MOB ref with no blob, or a
 * file whose footer cannot be parsed at all). A corrupt footer is
 * REPORTED, never thrown: the tool exists to triage broken stores, so
 * it must keep producing verdicts on exactly those stores.
 * The reference toolkit exists to triage these conditions on live
 * tables (`CorruptRowsMR.java`'s row-probe loop); this is the
 * store-level twin for an engine that owns its files.
 */
object StoreDoctor {

  final case class CheckRow(check: String, scope: String, status: String, detail: String)

  /** Consistency checks for one cell-store directory (range or salted). */
  def diagnose(spark: SparkSession, path: String): DataFrame = {
    val dir = new Path(path)
    val fs = HadoopConf.fs(dir)
    val listing = fs.listStatus(dir).toSeq
    val files = CellStoreSource.dataFiles(listing)
    val buckets = CellStoreSource.readBuckets(dir)
    val rows = scala.collection.mutable.ArrayBuffer.empty[CheckRow]

    // ONE footer parse per file, shared by every check below; a file
    // whose footer cannot be read becomes an ERROR row and is excluded
    // from the structural checks (its state is unknowable)
    val footers = files.map { st =>
      st.getPath.getName ->
        (try Right(CellStoreSource.footerBlocks(st.getPath))
         catch { case e: Exception => Left(e) })
    }
    val corrupt = footers.collect { case (f, Left(e)) => (f, e) }
    if (corrupt.nonEmpty)
      rows += CheckRow("footers", path, "ERROR",
        corrupt.map { case (f, e) => s"$f (${e.getClass.getSimpleName})" }.mkString(","))
    else
      rows += CheckRow("footers", path, "OK", s"${files.length} parquet footers parse")
    val readable = footers.collect { case (f, Right(blocks)) => (f, blocks) }

    // 1. layout: salted stores may hold ONLY in-range bucket files; a
    //    foreign file would be invisible to bucket pruning (a GET could
    //    miss committed data) — the one listing-level ERROR
    buckets match {
      case Some(n) =>
        val foreign = files.map(_.getPath.getName)
          .filter(f => CellStoreSource.bucketIdOf(f).forall(_ >= n))
        if (foreign.isEmpty)
          rows += CheckRow("layout", path, "OK", s"salted($n), ${files.length} bucket files")
        else
          rows += CheckRow("layout", path, "ERROR",
            s"non-bucket files in a salted store (excluded from pruning): ${foreign.mkString(",")}")
      case None =>
        rows += CheckRow("layout", path, "OK", s"range, ${files.length} region files")
    }

    // 2. in-file order: row groups of a store file must be key-ascending
    //    and non-overlapping (the writer sorts; a violation means some
    //    other writer produced the file — pruning stays correct via
    //    per-group stats, but scan order and chunk ordering guarantees
    //    are gone)
    val unsorted = readable.collect {
      case (f, blocks) if blocks.flatMap(_.keyRange).sliding(2).exists {
        case Seq((_, prevMax), (nextMin, _)) => CellStoreSource.KeyOrder.gt(prevMax, nextMin)
        case _ => false
      } => f
    }
    rows += (if (unsorted.isEmpty)
      CheckRow("file_order", path, "OK", "row-group key ranges ascending in every file")
    else CheckRow("file_order", path, "WARN",
      s"row groups out of key order: ${unsorted.mkString(",")}"))

    // 3. region overlap (range layout): appends legitimately overlap the
    //    base regions; flag as compaction advice, not an error. The files
    //    are grouped as the merge compaction groups them; each group past
    //    its first file counts. A file without key statistics overlaps
    //    every file, as compaction merges it with all, and a compaction
    //    writes it without statistics again: it is named instead of advice.
    if (buckets.isEmpty) {
      val spans = readable.map { case (f, blocks) => CellStoreCompaction.FileSpan(f, blocks) }
      val overlaps = CellStoreCompaction.overlapping(spans).map(_.size - 1).sum
      val keyless = spans.filter(s => s.blocks.exists(_.rows > 0) && s.range.isEmpty).map(_.file)
      rows += (if (overlaps == 0)
        CheckRow("region_overlap", path, "OK", "region key ranges disjoint")
      else if (keyless.nonEmpty) CheckRow("region_overlap", path, "INFO",
        s"$overlaps file(s) overlap an earlier key range; without key statistics (keys too long " +
          s"for parquet's min/max), ${keyless.mkString(",")} overlap every region, also after a compaction")
      else CheckRow("region_overlap", path, "INFO",
        s"$overlaps file(s) overlap an earlier key range — a major compaction would restore disjoint regions"))
    }

    // 4. bloom coverage: a file without a readable sidecar — missing, or
    //    of a length the reader rejects — degrades absent-key GETs from
    //    zero-IO elision to a footer probe: correct but slower
    val sidecarLen = CellBloom.sidecarLengths(listing)
    val names = files.map(_.getPath.getName)
    val missing = names.filterNot(sidecarLen.contains)
    val malformed = names.filter(f => sidecarLen.get(f).exists(!CellBloom.validLength(_)))
    val good = files.length - missing.length - malformed.length
    rows += (if (good == files.length)
      CheckRow("bloom_coverage", path, "OK", s"$good/${files.length} sidecars present")
    else CheckRow("bloom_coverage", path, "WARN",
      s"$good/${files.length} sidecars" +
        (if (missing.nonEmpty) s"; missing: ${missing.mkString(",")}" else "") +
        (if (malformed.nonEmpty) s"; malformed: ${malformed.mkString(",")}" else "")))

    // 5. compression: a file with an uncompressed column chunk predates the
    //    compressing writer (or came from another writer) — it reads
    //    correctly but takes more disk bytes
    val uncompressed = readable.collect { case (f, blocks) if blocks.exists(_.uncompressed) => f }
    rows += (if (uncompressed.isEmpty)
      CheckRow("compression", path, "OK", "every column chunk compressed")
    else CheckRow("compression", path, "INFO",
      s"${uncompressed.length} file(s) with uncompressed column chunks: " +
        s"${uncompressed.mkString(",")} — a major compaction rewrites them compressed"))

    import spark.implicits._
    rows.toSeq.toDF()
  }

  /** MOB-root checks: every ref must resolve (dangling = data loss at
    * read time, ERROR) and unreferenced blobs are reclaimable (INFO).
    * One full-outer join computes both counts in a single pass over the
    * ref cells and the side table's address columns. */
  def diagnoseMob(spark: SparkSession, mobRoot: String): DataFrame = {
    val refs = MobStore.refAddresses(spark, mobRoot).withColumn("_r", lit(1))
    val blobs = spark.read.parquet(s"$mobRoot/mob")
      .select("mob_key", "mob_len").withColumn("_b", lit(1))
    val counts = refs.join(blobs, Seq("mob_key", "mob_len"), "full_outer")
      .agg(
        count(when(col("_b").isNull, 1)).as("dangling"),
        count(when(col("_r").isNull, 1)).as("orphans"))
      .collect().head
    val dangling = counts.getAs[Long]("dangling")
    val orphans = counts.getAs[Long]("orphans")
    val rows = Seq(
      if (dangling == 0) CheckRow("mob_refs", mobRoot, "OK", "every ref resolves")
      else CheckRow("mob_refs", mobRoot, "ERROR",
        s"$dangling dangling ref(s): resolved reads lose these cells"),
      if (orphans == 0) CheckRow("mob_orphans", mobRoot, "OK", "no unreferenced blobs")
      else CheckRow("mob_orphans", mobRoot, "INFO",
        s"$orphans orphan blob(s) — reclaimMob frees them"))
    import spark.implicits._
    rows.toDF()
  }
}
