package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{AlwaysTrue, Filter}
import org.apache.spark.sql.types.StructType

/**
 * DSv2 write path for the cell store (reference K1 — `CopyRow.java:118-142`
 * writes one Put per cell; here a batched, sorted, region-partitioned bulk
 * write — the HBase *bulk-load* shape, which is what a 100 TB ingest uses
 * instead of the per-cell RPC).
 *
 * The scale-critical piece is [[RequiresDistributionAndOrdering]]: the
 * connector DECLARES that cells must be range-distributed and sorted by
 * (rowKey, family, qualifier, ts), and Spark plans the exchange + sort —
 * the engine-side analogue of HFile ordering, produced by the planner
 * rather than hand-rolled repartition calls. Each write task then streams
 * its already-sorted slice straight into one region file: no buffering,
 * no post-sort, and the resulting layout is exactly what
 * [[CellStoreScan]] prunes against (footer min/max per region).
 *
 * Commit protocol: tasks write to `_tmp_<queryId>/`; the driver commit
 * renames the reported files into the store directory (and on overwrite
 * first removes the previous region files), then drops the temp dir.
 * Uncommitted attempt files die with the temp dir on abort.
 */
class CellStoreWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsOverwrite {
  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    require(filters.forall(_.isInstanceOf[AlwaysTrue]),
      "cellstore supports only full-table overwrite")
    truncate()
  }

  override def build(): Write = new CellStoreWrite(path, info, truncateFirst)
}

class CellStoreWrite(path: String, info: LogicalWriteInfo, truncateFirst: Boolean)
    extends Write with RequiresDistributionAndOrdering {

  private val sortCols = Seq("rowKey", "family", "qualifier", "ts")

  /** Salted layout (`buckets=N`): appends to a salted store must keep its
    * N, so the store manifest wins over (and must agree with) the option. */
  private val buckets: Option[Int] = {
    val opted = Option(info.options.get("buckets")).map(_.toInt)
    val existing =
      if (truncateFirst) None
      else CellStoreSource.readBuckets(new Path(path))
    (opted, existing) match {
      case (Some(o), Some(e)) =>
        require(o == e, s"store at $path is salted with $e buckets; got buckets=$o")
        Some(e)
      case (o, e) => e.orElse(o)
    }
  }
  require(buckets.forall(_ > 0), s"buckets must be positive, got $buckets")

  /**
   * Range layout: Spark's ordered distribution IS the region split —
   * contiguous, non-overlapping key ranges per task.
   *
   * Salted layout: clustered-by-rowKey with a pinned partition count. The
   * partition id Spark's hash exchange assigns (`pmod(murmur3(rowKey), N)`)
   * IS the [[CellBucketFunction]] bucket — the task's partitionId names the
   * bucket file, nothing is re-hashed.
   */
  override def requiredDistribution(): Distribution = buckets match {
    case Some(_) => Distributions.clustered(Array(Expressions.column("rowKey")))
    case None => Distributions.ordered(Array(
      Expressions.sort(Expressions.column("rowKey"), SortDirection.ASCENDING)))
  }

  /** HFile ordering within each region/bucket file. */
  override def requiredOrdering(): Array[SortOrder] =
    sortCols.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray

  /** `numRegions` option pins the region count (like pre-split tables);
    * 0 lets AQE pick from data size. A salted store's count is its N. */
  override def requiredNumPartitions(): Int = buckets.getOrElse(
    Option(info.options.get("numRegions")).map(_.toInt).getOrElse(0))

  override def toBatch: BatchWrite =
    new CellStoreBatchWrite(path, info.queryId(), info.schema(), truncateFirst, buckets)
}

/** `replaceFiles` scopes a rewrite: the commit deletes exactly these files
  * instead of the whole store — the append a compaction pass commits
  * ([[CellStoreCompaction]]) so concurrent ingest survives it. */
class CellStoreBatchWrite(path: String, queryId: String, schema: StructType,
                          truncateFirst: Boolean, buckets: Option[Int],
                          replaceFiles: Seq[String] = Nil) extends BatchWrite {
  require(replaceFiles.isEmpty || !truncateFirst,
    "replaceFiles is an append-mode rewrite; it cannot combine with overwrite")
  private val tmpDir = s"$path/_tmp_$queryId"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    writerFactory

  /** The task-side writers, outside a DSv2 plan: the merge compaction
    * ([[CellStoreCompaction]]) runs its own job and commits here. */
  def writerFactory: CellStoreWriterFactory =
    new CellStoreWriterFactory(tmpDir, schema, salted = buckets.isDefined)

  /** Overwrite is old-files-last: the superseded region files are listed
    * BEFORE the new ones are renamed in (names are job-unique, so the sets
    * are disjoint) and deleted only after every rename succeeded — a driver
    * crash mid-commit leaves a readable store (old, new, or briefly both),
    * never an empty one. A failed rename aborts the commit loudly instead
    * of silently dropping the task's file with the temp dir.
    *
    * A `replaceFiles` rewrite supersedes exactly the named files and also
    * records an inputs→outputs manifest (`_compact_<id>.json`) so a live
    * micro-batch tail can mark the outputs delivered instead of replaying
    * rewritten cells. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = HadoopConf.fs(dir)
    val superseded =
      if (truncateFirst)
        fs.listStatus(dir)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(_.getPath)
      else replaceFiles.map(new Path(dir, _)).filter(fs.exists).toArray
    val committed = messages.collect {
      case m @ CellFileCommitted(file, _) if file.nonEmpty => m
    }
    val renamed = committed.map { m =>
      val src = new Path(m.file)
      if (!fs.rename(src, new Path(dir, src.getName)))
        throw new java.io.IOException(
          s"cellstore commit: rename of $src into $dir failed; store left unchanged plus any already-renamed files")
      src.getName
    }
    if (replaceFiles.nonEmpty)
      CellStoreSource.writeCompactManifest(dir, queryId,
        inputs = superseded.map(_.getName).toSeq, outputs = renamed.toSeq)
    // record per-file rowKey blooms: merge on append, reset on truncate,
    // drop superseded entries on file-scoped rewrites (pure IO elision —
    // a racing writer losing an entry only loses pruning, never rows)
    CellBloom.update(dir,
      added = committed.map(m => new Path(m.file).getName -> m.bloom).toMap,
      removed = superseded.map(_.getName).toSet,
      reset = truncateFirst)
    superseded.foreach(p => fs.delete(p, false))
    buckets match {
      case Some(n) => CellStoreSource.writeBucketsMeta(dir, n)
      case None if truncateFirst =>
        // overwriting a salted store with a range layout: drop the manifest
        // or the new files would be misread as salted
        fs.delete(new Path(dir, CellStoreSource.MetaFile), false)
      case None => ()
    }
    fs.delete(new Path(tmpDir), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = HadoopConf.fs(new Path(tmpDir))
    fs.delete(new Path(tmpDir), true)
  }
}

final case class CellFileCommitted(file: String, bloom: Array[Long])
    extends WriterCommitMessage

class CellStoreWriterFactory(val tmpDir: String, schema: StructType, salted: Boolean)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CellStoreDataWriter(tmpDir, schema, partitionId, taskId, salted)
}

/** Streams sorted `InternalRow`s of one region/bucket slice straight into
  * one parquet file via Spark's own `ParquetWriteSupport` (no per-field
  * Group materialization — the write-side twin of the vectorized reader).
  * Opens lazily so empty partitions commit nothing. */
class CellStoreDataWriter(tmpDir: String, schema: StructType,
                          partitionId: Int, taskId: Long, salted: Boolean)
    extends DataWriter[InternalRow] {

  require(CellStoreSource.Schema.fieldNames.forall(schema.fieldNames.contains),
    s"cellstore write needs the full cell schema, got ${schema.fieldNames.mkString(",")}")

  // the UUID makes the name unique ACROSS applications: taskIds restart at 0
  // in every Spark app, so an append from a fresh JVM would otherwise collide
  // with an existing region file and the rename would silently drop data.
  // Salted layout: partitionId IS the bucket id (clustered distribution with
  // numPartitions pinned to the bucket count), recorded in the file name so
  // the scan can group files per bucket without reading footers.
  private val file =
    if (salted)
      f"$tmpDir/bucket-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}%s.parquet"
    else
      f"$tmpDir/part-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}%s.parquet"
  private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
  private var wrote = false
  // per-file rowKey bloom, filled during the write, folded to the file's
  // distinct-key count on commit and shipped to the driver with the commit
  // message (the HFile ROW bloom analogue). Rows arrive sorted, so a key
  // differing from the previous one is a new key.
  private val rowKeyIdx = schema.fieldIndex("rowKey")
  private val bloom = CellBloom.empty()
  private var prevKey: Array[Byte] = _
  private var distinctKeys = 0L

  override def write(row: InternalRow): Unit = {
    if (writer == null)
      writer = org.apache.spark.sql.execution.datasources.parquet
        .GraftRowParquetWriter.open(file, schema)
    wrote = true
    if (!row.isNullAt(rowKeyIdx)) {
      val k = row.getBinary(rowKeyIdx)
      if (prevKey == null || !java.util.Arrays.equals(prevKey, k)) {
        CellBloom.add(bloom, k)
        distinctKeys += 1
        prevKey = k
      }
    }
    writer.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    CellFileCommitted(if (wrote) file else "", CellBloom.fold(bloom, distinctKeys))
  }

  override def abort(): Unit = if (writer != null) writer.close()
  override def close(): Unit = ()
}
