package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.statistics.{BinaryStatistics, LongStatistics}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, CompressionCodecName}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * DataSource V2 connector for the region-split cell store (written by
 * [[CellStoreWrite]]): a directory of key-range-partitioned, key-sorted,
 * snappy-compressed parquet files — the columnar analogue of HBase regions +
 * HFiles (reference scan surface: `CorruptRowsMR.java:68-91`, one MR split
 * per region via `TableInputFormat`; here one `InputPartition` per region
 * file).
 *
 * Scale design:
 *  - **Region pruning (server-side scan bounds, S1/S2).** `rowKey`
 *    equality/range predicates are pushed into the scan
 *    (`SupportsPushDownFilters`); the planner reads each region's parquet
 *    footer and drops regions whose [min,max] key interval misses the
 *    requested range — a point GET plans exactly ONE region chunk no
 *    matter how many regions the table has. (At 100 TB the footer sweep
 *    becomes a cached region index, exactly like HBase's META table; the
 *    pruning contract is unchanged.)
 *  - **Row-group skipping.** Inside a selected region the reader consults
 *    per-row-group statistics and skips groups outside the key range —
 *    the HFile-block-index analogue. The same statistics sweep prunes on
 *    the OTHER cell dimensions: `ts` (the `Scan.setTimeRange` analogue of
 *    the reference's version dimension, `CopyRow.java:133`), `family`
 *    (`CorruptRowsMR.java:80-86` restricts scans to named families) and
 *    `qualifier` — a time-windowed or single-family scan of a time-ordered
 *    store reads only the row groups that can match.
 *  - **One bound per column.** Every prunable column gets one
 *    [[CellStoreSource.Bound]] from the pushed filters: the interval its
 *    comparisons allow and the values its `EqualTo`/`In` pin it to, all as
 *    bytes in one unsigned order (`family` as UTF-8 bytes; `ts` big-endian
 *    with its sign bit flipped, so that it orders as the longs do). A row
 *    group is kept when every column's statistics can hold a
 *    value of its bound; an `Or` of conjunctions keeps it when any branch
 *    does (the MultiRowRangeFilter shape).
 *  - **Chunks.** A range-store scan splits each surviving region file into
 *    row-group-aligned chunks of at most Spark's
 *    `spark.sql.files.maxPartitionBytes` compressed bytes, one
 *    `InputPartition` each; a salted store reads one partition per bucket.
 *  - **Column pruning (F2/S3).** `SupportsPushDownRequiredColumns` narrows
 *    the parquet read to the requested columns at the IO level (the
 *    decoder's requested schema) — a key-only scan reads no value bytes, the
 *    `KeyOnlyFilter` semantics, and a count-only scan decodes no column.
 *  - **One decoder.** Plain scans, grouped-aggregate partials and stream
 *    batches all decode through Spark's vectorized parquet reader
 *    ([[org.apache.spark.sql.execution.datasources.parquet.GraftVectorizedReader]]).
 *  - **One loaded configuration.** Driver-side planning (listings, bloom
 *    sidecars, footers) and every reader and writer share one loaded Hadoop
 *    configuration per JVM ([[HadoopConf.shared]]), as the reference builds
 *    its configuration once per tool run (`CopyRow.java:101`): a GET or a
 *    store write loads none.
 *  - **Point GETs run no job.** When the pushed filters pin `rowKey` to a
 *    key set and the pruned row groups hold at most
 *    [[CellStoreLocalScan.MaxRows]] cells by their footer row counts, the
 *    scan is a DSv2 `LocalScan` that decodes those row groups on the driver
 *    and keeps the matching cells: Spark plans it as a `LocalTableScan`, and
 *    its collect schedules nothing, as the reference's CopyRow reads a row
 *    with one `table.get` RPC (`CopyRow.java:109-111`). The bound counts
 *    rows, not bytes, because that is the driver's work: the reader streams
 *    decoder batches and keeps only the matches. The key-set conjuncts are
 *    then answered by the scan and leave Spark's residuals.
 *  - Every other pushed filter is also kept as a Spark-side residual, so
 *    pruning is a pure optimization and can never affect correctness.
 *
 * Binary key ordering is unsigned-lexicographic everywhere (HBase
 * `Bytes.compareTo` == parquet BINARY stats ordering == Spark BinaryType
 * ordering).
 */
class CellStoreSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cellstore"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CellStoreSource.Schema
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty, "cellstore requires a path")
    new CellStoreTable(path)
  }
}

object CellStoreSource {
  /** The cell schema (`CellTable.fromTable` shape). */
  val Schema: StructType = StructType(Seq(
    StructField("rowKey", BinaryType, nullable = false),
    StructField("family", StringType),
    StructField("qualifier", BinaryType),
    StructField("ts", LongType),
    StructField("cellType", StringType),
    StructField("value", BinaryType)))

  /** Unsigned lexicographic byte order: HBase `Bytes.compareTo`, parquet
    * BINARY statistics and Spark's BinaryType all order keys this way. */
  private[graft] val KeyOrder: Ordering[Array[Byte]] =
    (a, b) => java.util.Arrays.compareUnsigned(a, b)

  /** The data files of a store listing: its non-empty `.parquet` files, by
    * name (bloom sidecars, manifests and checksum files are not). */
  private[graft] def dataFiles(listing: Seq[FileStatus]): Seq[FileStatus] =
    listing.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") && s.getLen > 0)
      .sortBy(_.getPath.getName)

  // Footer-statistics pruning ----------------------------------------------

  /** A column's `[min, max]` as bytes. Every prunable column's values and
    * statistics compare in [[KeyOrder]]: `rowKey` and `qualifier` as they
    * are, `family` as its UTF-8 bytes (which order as its code points do, as
    * Spark compares strings), `ts` as [[tsBytes]]. */
  private[graft] type MinMax = (Array[Byte], Array[Byte])

  /** A `ts` as 8 bytes that order unsigned as the longs do: big-endian with
    * the sign bit flipped. */
  private[graft] def tsBytes(ts: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(ts ^ Long.MinValue).array()

  /** A pushed literal as its column's bytes; None when the column is not
    * prunable or the literal is not of the column's type. */
  private def valueOf(col: String, v: Any): Option[Array[Byte]] = (col, v) match {
    case ("rowKey" | "qualifier", b: Array[Byte]) => Some(b)
    case ("family", s: String)                    => Some(s.getBytes(UTF_8))
    case ("ts", n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short)) =>
      Some(tsBytes(n.asInstanceOf[Number].longValue))
    case _ => None
  }

  /** One column's pruning bound: the interval its range conjuncts allow
    * (`(value, inclusive)` ends, None = unbounded) and the values its
    * `EqualTo` / `In` conjuncts pin it to (None = any value). */
  private[graft] final case class Bound(col: String,
      lower: Option[(Array[Byte], Boolean)] = None, upper: Option[(Array[Byte], Boolean)] = None,
      values: Option[Seq[Array[Byte]]] = None) {
    /** Both bounds at once: the tighter end on each side, the common values. */
    def and(o: Bound): Bound = Bound(col,
      (lower ++ o.lower).reduceOption(tighter(1)), (upper ++ o.upper).reduceOption(tighter(-1)),
      (values ++ o.values).reduceOption((a, b) => a.filter(x => b.exists(KeyOrder.equiv(x, _)))))

    private def tighter(side: Int)(a: (Array[Byte], Boolean), b: (Array[Byte], Boolean)) = {
      val c = side * KeyOrder.compare(a._1, b._1)
      if (c > 0 || c == 0 && !a._2) a else b
    }

    private def overlaps(min: Array[Byte], max: Array[Byte]): Boolean =
      lower.forall { case (l, incl) => KeyOrder.gt(max, l) || incl && KeyOrder.equiv(max, l) } &&
        upper.forall { case (u, incl) => KeyOrder.lt(min, u) || incl && KeyOrder.equiv(min, u) }

    /** The pinned values inside the interval, sorted. */
    private lazy val pinned = values.map(_.filter(v => overlaps(v, v)).sorted(KeyOrder).toIndexedSeq)

    /** Can values spanning `[min, max]` (both inclusive) hold a match? */
    def keeps(min: Array[Byte], max: Array[Byte]): Boolean = pinned match {
      case Some(vs) =>
        val i = vs.search(min)(KeyOrder).insertionPoint
        i < vs.size && KeyOrder.lteq(vs(i), max)
      case None => overlaps(min, max)
    }
  }

  /** The bound one leaf filter puts on its column: a comparison, `EqualTo`
    * or non-empty `In` on a prunable column, with literals of its type. */
  private object Leaf {
    def unapply(f: Filter): Option[Bound] = {
      def on(c: String, vs: Seq[Any])(bound: Seq[Array[Byte]] => Bound): Option[Bound] = {
        val xs = vs.flatMap(valueOf(c, _))
        if (vs.nonEmpty && xs.size == vs.size) Some(bound(xs)) else None
      }
      f match {
        case EqualTo(c, v)            => on(c, Seq(v))(xs => Bound(c, values = Some(xs)))
        case In(c, vs)                => on(c, vs.toSeq)(xs => Bound(c, values = Some(xs)))
        case GreaterThan(c, v)        => on(c, Seq(v))(xs => Bound(c, lower = Some((xs.head, false))))
        case GreaterThanOrEqual(c, v) => on(c, Seq(v))(xs => Bound(c, lower = Some((xs.head, true))))
        case LessThan(c, v)           => on(c, Seq(v))(xs => Bound(c, upper = Some((xs.head, false))))
        case LessThanOrEqual(c, v)    => on(c, Seq(v))(xs => Bound(c, upper = Some((xs.head, true))))
        case _                        => None
      }
    }
  }

  /** Is this a predicate the scan can prune regions and row groups by?
    * `rowKey` bounds prune regions and row groups; `ts` bounds (the
    * `Scan.setTimeRange` analogue, `CopyRow.java:133`), `family`
    * (`CorruptRowsMR.java:80-86` restricts scans to named families) and
    * `qualifier` bounds (ColumnRangeFilter; tight only on wide-row stores)
    * prune row groups. One prunable side makes an `And` prunable, since the
    * fold skips conjuncts it does not know; an `Or` needs both, since an
    * opaque branch could match anywhere. */
  private[graft] def prunable(f: Filter): Boolean = f match {
    case And(l, r) => prunable(l) || prunable(r)
    case Or(l, r)  => prunable(l) && prunable(r)
    case Leaf(_)   => true
    case _         => false
  }

  /** The leaf bounds of a conjunction, nested `And`s included. */
  private def leaves(f: Filter): Seq[Bound] = f match {
    case And(l, r) => leaves(l) ++ leaves(r)
    case Leaf(b)   => Seq(b)
    case _         => Nil
  }

  /** The bounds a conjunction of pushed filters puts on each column. */
  private[graft] final case class ScanBounds(cols: Map[String, Bound]) {
    /** Can values of `col` spanning `[min, max]` match? */
    def keeps(col: String, min: Array[Byte], max: Array[Byte]): Boolean =
      cols.get(col).forall(_.keeps(min, max))
    /** Can this row group hold a match? A column without statistics keeps
      * it: pruning only skips IO, and residual filters re-check rows. */
    def keep(info: BlockInfo): Boolean =
      cols.keys.forall(c => info.stats.get(c).forall { case (mn, mx) => keeps(c, mn, mx) })
  }

  private[graft] def boundsOf(filters: Seq[Filter]): ScanBounds =
    ScanBounds(filters.flatMap(leaves).groupMapReduce(_.col)(identity)(_ and _))

  /** A DISJUNCTION of conjunctive scan bounds — the pruning shape of
    * HBase's MultiRowRangeFilter: a multi-range scan (several key ranges,
    * or `key range OR ts range` unions) keeps a block iff ANY branch
    * keeps it. The conjunctive [[ScanBounds]] is the 1-branch case. */
  private[graft] final case class ScanBoundsSet(branches: Seq[ScanBounds]) {
    def keep(info: BlockInfo): Boolean = branches.exists(_.keep(info))
    def keep(block: BlockMetaData): Boolean = keep(blockInfo(0, block))
  }

  /** Expand one filter to its disjunctive branches (each a conjunction). */
  private def dnfBranches(f: Filter): Seq[Seq[Filter]] = f match {
    case Or(l, r)  => dnfBranches(l) ++ dnfBranches(r)
    case And(l, r) => for (a <- dnfBranches(l); b <- dnfBranches(r)) yield a ++ b
    case leaf      => Seq(Seq(leaf))
  }

  /** Most branches a pushed-filter disjunction expands to. */
  private val MaxBranches = 16

  /** Fold pushed filters (a conjunction) into a bounds DISJUNCTION via
    * per-filter DNF expansion. A filter whose cross product would exceed
    * [[MaxBranches]] is dropped from the bounds — correct (fewer
    * constraints only keep more blocks; residual filters re-check rows),
    * and it bounds planner work on adversarial predicates. */
  private[graft] def boundsSetOf(filters: Seq[Filter]): ScanBoundsSet = {
    val branches = filters.foldLeft(Seq(Seq.empty[Filter])) { (acc, f) =>
      val fb = dnfBranches(f)
      if (acc.size.toLong * fb.size > MaxBranches) acc
      else for (a <- acc; b <- fb) yield a ++ b
    }
    ScanBoundsSet(branches.map(boundsOf))
  }

  /** The exact key set a conjunction of filters pins `rowKey` to, if any:
    * EqualTo and In contribute sets, conjuncts intersect. None = not
    * key-set-constrained (range predicates don't enumerate keys). */
  private[graft] def exactKeys(filters: Seq[Filter]): Option[Seq[Array[Byte]]] =
    boundsOf(filters).cols.get("rowKey").flatMap(_.values)

  /** Is this filter one of the key-set conjuncts [[exactKeys]] reads off
    * the top level of a conjunction? A local scan answers these itself. */
  private[sources] def pinsKeys(f: Filter): Boolean = f match {
    case Leaf(b) => b.col == "rowKey" && b.values.isDefined
    case _       => false
  }

  /** One row group's footer metadata: `stats` holds each prunable column's
    * `[min, max]` as its bound's bytes (absent without statistics), and
    * `uncompressed` is set when any column chunk is stored without a codec. */
  private[graft] final case class BlockInfo(index: Int, rows: Long, compressedBytes: Long,
      stats: Map[String, MinMax], uncompressed: Boolean = false) {
    def keyRange: Option[MinMax] = stats.get("rowKey")
  }

  private def blockInfo(index: Int, block: BlockMetaData): BlockInfo = {
    val chunks = block.getColumns.asScala.toSeq
    BlockInfo(index, block.getRowCount, block.getCompressedSize,
      chunks.flatMap[(String, MinMax)] { c =>
        (c.getPath.toDotString, Option(c.getStatistics).filter(_.hasNonNullValue)) match {
          case ("ts", Some(st: LongStatistics)) => Some("ts" -> (tsBytes(st.getMin), tsBytes(st.getMax)))
          case (n @ ("rowKey" | "family" | "qualifier"), Some(st: BinaryStatistics)) =>
            Some(n -> (st.getMinBytes, st.getMaxBytes))
          case _ => None
        }
      }.toMap,
      chunks.exists(_.getCodec == CompressionCodecName.UNCOMPRESSED))
  }

  /** All row groups of a file, footer metadata only. */
  private[graft] def footerBlocks(file: Path): Seq[BlockInfo] = {
    val reader = HadoopConf.openParquet(file)
    try reader.getRowGroups.asScala.toSeq.zipWithIndex.map { case (b, i) => blockInfo(i, b) }
    finally reader.close()
  }

  /** A file's rowKey `[min, max]` from its row groups' statistics. None when
    * a row group with rows has none (parquet keeps no min/max for a chunk
    * whose min and max reach 4 KiB together): such a file may hold any key. */
  private[graft] def keyRangeOf(blocks: Seq[BlockInfo]): Option[MinMax] = {
    val ranges = blocks.filter(_.rows > 0).map(_.keyRange)
    if (ranges.isEmpty || ranges.contains(None)) None
    else Some((ranges.flatten.map(_._1).min(KeyOrder), ranges.flatten.map(_._2).max(KeyOrder)))
  }

  // Salted-layout manifest -------------------------------------------------

  /** Store manifest: present iff the store is salted (`buckets=N`). */
  private[graft] val MetaFile = "_cellstore_meta.json"
  private val BucketFilePattern = """bucket-(\d+)-.*\.parquet""".r

  private[graft] def bucketIdOf(fileName: String): Option[Int] = fileName match {
    case BucketFilePattern(b) => Some(b.toInt)
    case _                    => None
  }

  /** Read the store's bucket count (None = range layout). */
  private[graft] def readBuckets(dir: Path): Option[Int] = {
    val fs = HadoopConf.fs(dir)
    val meta = new Path(dir, MetaFile)
    if (!fs.exists(meta)) None
    else {
      val in = fs.open(meta)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      """"buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toInt)
    }
  }

  private[sources] def writeBucketsMeta(dir: Path, n: Int): Unit = {
    val fs = HadoopConf.fs(dir)
    val out = fs.create(new Path(dir, MetaFile), true)
    try out.write(s"""{"buckets": $n}""".getBytes("UTF-8")) finally out.close()
  }

  // Compaction manifests ---------------------------------------------------

  /** A file-scoped rewrite's record: `outputs` hold exactly the cells a
    * read of `inputs` could observe (modulo dropped versions), so a tail
    * that has delivered all inputs can mark the outputs delivered. */
  private[graft] final case class CompactManifest(
      id: String, inputs: Set[String], outputs: Set[String])

  private val CompactFilePattern = """_compact_(.+)\.json""".r

  private[sources] def writeCompactManifest(
      dir: Path, id: String,
      inputs: Seq[String], outputs: Seq[String]): Unit = {
    val fs = HadoopConf.fs(dir)
    def arr(xs: Seq[String]) =
      xs.sorted.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    val out = fs.create(new Path(dir, s"_compact_$id.json"), true)
    try out.write(
      s"""{"inputs":${arr(inputs)},"outputs":${arr(outputs)}}""".getBytes("UTF-8"))
    finally out.close()
  }

  /** All compaction manifests of a store (empty if none). */
  private[graft] def readCompactManifests(dir: Path): Seq[CompactManifest] = {
    val fs = HadoopConf.fs(dir)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .filter(_.isFile)
      .flatMap { st =>
        st.getPath.getName match {
          case CompactFilePattern(id) =>
            val in = fs.open(st.getPath)
            val text =
              try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
            def names(section: String): Set[String] =
              s""""$section"\\s*:\\s*\\[([^\\]]*)\\]""".r.findFirstMatchIn(text)
                .map(m => """"([^"]*)"""".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSet)
                .getOrElse(Set.empty)
            Some(CompactManifest(id, names("inputs"), names("outputs")))
          case _ => None
        }
      }
  }
}

class CellStoreTable(path: String) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  /** Bucket count of a salted store (None = range-region layout). Read once
    * per table resolution — one tiny manifest file, driver-side. */
  lazy val buckets: Option[Int] =
    CellStoreSource.readBuckets(new Path(path))

  override def name(): String = s"cellstore(`$path`)"
  override def schema(): StructType = CellStoreSource.Schema
  /** Advertise the salt as table partitioning (DESCRIBE/metadata surface). */
  override def partitioning(): Array[Transform] =
    buckets.map(n => org.apache.spark.sql.connector.expressions.Expressions
      .bucket(n, "rowKey")).toArray
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CellStoreScanBuilder(path, buckets,
      Option(options.get("graft.noRewrite")).exists(_.toBoolean))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new CellStoreWriteBuilder(path, info)
}

class CellStoreScanBuilder(path: String, buckets: Option[Int],
                           noRewrite: Boolean = false)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {
  import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = CellStoreSource.Schema
  private var aggPushed: Option[Aggregation] = None
  private var groupPushed: Option[(Seq[String], Seq[CellAggSpec])] = None
  private var limit: Option[Int] = None
  /** The planning pass of a key-pinned read: run once in [[pushFilters]],
    * where its row count picks the path, and handed to the scan [[build]]
    * returns, so a GET lists, probes blooms and reads footers once. */
  private var planned: Option[CellStorePlan] = None

  private def local: Boolean =
    planned.exists(_.keptRows <= CellStoreLocalScan.MaxRows)

  /** PARTIAL limit pushdown (isPartiallyPushed stays true): each partition
    * reader stops decoding once it has produced `limit` rows — a limit(1)
    * existence probe touches one row group instead of a whole region —
    * and Spark still applies the global limit on top. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  /** Accept rowKey range predicates for pruning and return them as
    * residuals — Spark re-applies them post-scan, so pruning is purely an
    * optimization (the reference's server-side Filter semantics with a
    * client-side safety net). The one exception is a read the local scan
    * answers: it keeps exactly the pinned keys, so the key-set conjuncts
    * leave the residuals and Spark plans no operator over the scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(CellStoreSource.prunable)
    planned = CellStoreSource.exactKeys(pushed.toSeq).map(_ =>
      CellStoreScan.plan(path, buckets, pushed.toSeq, Nil))
    if (local) filters.filterNot(CellStoreSource.pinsKeys) else filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // Aggregate pushdown — the HBase RowCounter analogue at ZERO data IO:
  // whole-store COUNT(*) / MIN(rowKey) / MAX(rowKey) are answered entirely
  // from parquet footer metadata (row counts + key statistics). Only safe
  // when no filters are in play. Spark offers aggregates whenever no
  // residual is left over the scan, which includes a GET the local scan
  // answers (its key-set conjuncts leave the residuals), so the
  // `pushed.isEmpty` guard below is what keeps a filtered count exact.
  private def isRowKey(e: Expression): Boolean = e match {
    case ref: NamedReference => ref.fieldNames.sameElements(Array("rowKey"))
    case _                   => false
  }
  private def footerAnswerable(agg: Aggregation): Boolean =
    pushed.isEmpty && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case m: Min       => isRowKey(m.column)
        case m: Max       => isRowKey(m.column)
        case _            => false
      }
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    footerAnswerable(agg)

  // Grouped aggregate pushdown (PARTIAL): the scan emits per-partition
  // partial rows (group cols + count/min/max states) and Spark plans the
  // final merge aggregation on top. Store files are
  // (rowKey, family, qualifier, ts)-sorted, so the reader aggregates by
  // RUN-LENGTH over the sorted stream — constant memory, no hash map, no
  // spill risk at any scale; a sort-prefix grouping (rowKey, …) gets one
  // partial row per group per file, anything else just gets more partials
  // for the final merge to fold. A salted store answers keyed aggregates
  // per bucket without ever decoding qualifier/value bytes.
  private def colOf(e: Expression): Option[String] = e match {
    case ref: NamedReference if ref.fieldNames.length == 1 =>
      Some(ref.fieldNames.head).filter(CellStoreSource.Schema.fieldNames.contains)
    case _ => None
  }
  private def groupAnswerable(agg: Aggregation): Option[(Seq[String], Seq[CellAggSpec])] = {
    if (pushed.nonEmpty || limit.nonEmpty || agg.groupByExpressions.isEmpty ||
        agg.aggregateExpressions.isEmpty) return None
    // A salt-key grouping on a salted store is ALREADY zero-exchange via the
    // scan's KeyGroupedPartitioning (storage-partitioned aggregation) — and
    // Spark cannot carry that partitioning through an aggregate pushdown
    // (the pushed relation gets fresh attribute ids, so
    // V2ScanPartitioningAndOrdering drops it). Declining the pushdown keeps
    // the strictly better no-shuffle plan; every other case (range layout,
    // or a grouping the salt cannot co-locate) shuffles either way, and
    // pushed run-length partials shrink what crosses that shuffle.
    if (buckets.isDefined && SQLConf.get.v2BucketingEnabled &&
        agg.groupByExpressions.exists {
          case ref: NamedReference => ref.fieldNames.sameElements(Array("rowKey"))
          case _                   => false
        }) return None
    val groups = agg.groupByExpressions.toSeq.map(colOf)
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(CellCountStar)
      case m: Min => colOf(m.column).map(c =>
        CellMinMax(c, CellStoreSource.Schema(c).dataType, isMin = true))
      case m: Max => colOf(m.column).map(c =>
        CellMinMax(c, CellStoreSource.Schema(c).dataType, isMin = false))
      case _ => None
    }
    if (groups.forall(_.isDefined) && specs.forall(_.isDefined))
      Some((groups.flatten, specs.flatten))
    else None
  }

  override def pushAggregation(agg: Aggregation): Boolean =
    if (footerAnswerable(agg)) { aggPushed = Some(agg); true }
    else groupAnswerable(agg) match {
      case Some(gs) => groupPushed = Some(gs); true
      case None     => false
    }

  override def build(): Scan = (aggPushed, groupPushed) match {
    case (Some(agg), _)       => new CellStoreAggScan(path, agg)
    case (None, Some((g, a))) =>
      new CellStoreGroupByScan(path, buckets, g, a)
    case _ if local => new CellStoreLocalScan(path, planned.get, pushed, required)
    case _ =>
      new CellStoreScan(path, buckets, pushed, required, limit,
        noRewrite, planned.map(_.partitions))
  }
}

/** One pushed aggregate of a grouped pushdown. */
sealed trait CellAggSpec extends Serializable {
  def name: String
  def dataType: DataType
  def inputCol: Option[String]
}
case object CellCountStar extends CellAggSpec {
  val name = "count(*)"; val dataType: DataType = LongType
  val inputCol: Option[String] = None
}
final case class CellMinMax(col: String, dataType: DataType, isMin: Boolean)
    extends CellAggSpec {
  def name: String = s"${if (isMin) "min" else "max"}($col)"
  def inputCol: Option[String] = Some(col)
}

/** Grouped-aggregate scan: same partitions as the full scan (per region
  * chunk / per salt bucket), but each partition emits run-length partial
  * aggregates over its sorted cell stream instead of raw cells. Only the
  * grouping and aggregated columns are decoded. */
class CellStoreGroupByScan(path: String, buckets: Option[Int],
                           groupCols: Seq[String], aggs: Seq[CellAggSpec])
    extends Scan with Batch {

  /** Columns the reader must decode, in cell-schema order. */
  private val inputSchema: StructType = StructType(
    CellStoreSource.Schema.filter(f =>
      groupCols.contains(f.name) || aggs.exists(_.inputCol.contains(f.name))))

  private val delegate =
    new CellStoreScan(path, buckets, Array.empty, inputSchema, None)

  override def readSchema(): StructType = StructType(
    groupCols.map(c => CellStoreSource.Schema(c)) ++
      aggs.map(a => StructField(a.name, a.dataType)))
  override def toBatch: Batch = this
  override def description(): String =
    s"CellStoreGroupByScan path=$path, groupBy=${groupCols.mkString("[", ",", "]")}, " +
      s"aggs=${aggs.map(_.name).mkString("[", ",", "]")} (partial, run-length)"

  override def planInputPartitions(): Array[InputPartition] =
    delegate.planInputPartitions()
  override def createReaderFactory(): PartitionReaderFactory =
    new CellStoreGroupByReaderFactory(inputSchema, groupCols, aggs)
}

class CellStoreGroupByReaderFactory(
    inputSchema: StructType, groupCols: Seq[String], aggs: Seq[CellAggSpec])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CellStoreGroupByReader(
      new CellStoreColumnarReader(CellStoreReaderFactory.chunksOf(partition), inputSchema,
        CellStoreSource.boundsSetOf(Nil)),
      inputSchema, groupCols, aggs)
}

/** Run-length partial aggregation over a sorted cell stream: accumulate
  * while consecutive rows share the group key, emit one partial row per
  * run. Constant state (one key + one accumulator set); duplicate groups
  * across runs/files/partitions are merged by Spark's final aggregate.
  * Rows are views into the decoder's column vectors, which the next batch
  * overwrites, so the strings a run keeps are copied out ([[owned]]). */
class CellStoreGroupByReader(
    batches: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch],
    inputSchema: StructType,
    groupCols: Seq[String],
    aggs: Seq[CellAggSpec]) extends PartitionReader[InternalRow] {

  private val groupIdx = groupCols.map(inputSchema.fieldIndex).toArray
  private val groupTypes = groupCols.map(c => inputSchema(c).dataType).toArray
  private val aggIdx = aggs.map(_.inputCol.map(inputSchema.fieldIndex).getOrElse(-1)).toArray

  private var curKey: Array[Any] = _
  private var states: Array[Any] = _
  private var count = 0L
  private var out: InternalRow = _
  private var exhausted = false
  private var rows: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()

  private def owned(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case other         => other
  }

  private def cmpVals(a: Any, b: Any): Int = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => CellStoreSource.KeyOrder.compare(x, y)
    case (x: UTF8String, y: UTF8String)   => x.compareTo(y)
    case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
    case _ => throw new IllegalStateException(s"incomparable agg values: $a / $b")
  }

  private def sameKey(k: Array[Any]): Boolean = {
    var i = 0
    while (i < k.length) {
      val eq = (k(i), curKey(i)) match {
        case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
        case (x, y)                           => x == y
      }
      if (!eq) return false
      i += 1
    }
    true
  }

  private def startRun(k: Array[Any]): Unit = {
    curKey = k.map(owned); states = new Array[Any](aggs.length); count = 0L
  }

  private def update(r: InternalRow): Unit = {
    count += 1
    var i = 0
    while (i < aggs.length) {
      aggs(i) match {
        case CellCountStar => ()
        case m: CellMinMax =>
          val v: Any =
            if (r.isNullAt(aggIdx(i))) null else r.get(aggIdx(i), m.dataType)
          if (v != null) {
            val cur = states(i)
            if (cur == null ||
                (if (m.isMin) cmpVals(v, cur) < 0 else cmpVals(v, cur) > 0))
              states(i) = owned(v)
          }
      }
      i += 1
    }
  }

  private def emit(): InternalRow = {
    val vals = new Array[Any](groupCols.length + aggs.length)
    System.arraycopy(curKey, 0, vals, 0, curKey.length)
    var i = 0
    while (i < aggs.length) {
      vals(groupCols.length + i) = aggs(i) match {
        case CellCountStar => count
        case _             => states(i)
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def next(): Boolean = {
    out = null
    while (out == null) {
      if (!exhausted && hasRow) {
        val r = rows.next()
        val k = new Array[Any](groupIdx.length)
        var i = 0
        while (i < groupIdx.length) {
          k(i) = if (r.isNullAt(groupIdx(i))) null else r.get(groupIdx(i), groupTypes(i))
          i += 1
        }
        if (curKey == null) startRun(k)
        else if (!sameKey(k)) { out = emit(); startRun(k) }
        update(r)
      } else {
        exhausted = true
        if (curKey != null) { out = emit(); curKey = null }
        else return false
      }
    }
    true
  }

  private def hasRow: Boolean = {
    while (!rows.hasNext) {
      if (!batches.next()) return false
      rows = batches.get().rowIterator()
    }
    true
  }

  override def get(): InternalRow = out
  override def close(): Unit = batches.close()
}

/** Scan answering a pushed whole-store aggregation from the footers: one
  * partition, one row. A row group without rowKey statistics (parquet keeps
  * none for a chunk whose min and max reach 4 KiB together) has its rowKey
  * column decoded on the driver; every other row group costs no page IO. */
class CellStoreAggScan(
    path: String,
    agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    extends Scan with Batch {
  import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
  import CellStoreSource.{KeyOrder, MinMax}

  private val aggs = agg.aggregateExpressions.toSeq

  override def readSchema(): StructType = StructType(aggs.map {
    case _: CountStar => StructField("count(*)", LongType, nullable = false)
    case _: Min       => StructField("min(rowKey)", BinaryType)
    case _: Max       => StructField("max(rowKey)", BinaryType)
    case other => throw new IllegalStateException(s"unsupported pushed agg: $other")
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"CellStoreAggScan path=$path, aggs=${aggs.mkString("[", ",", "]")} (footer statistics)"

  override def planInputPartitions(): Array[InputPartition] = {
    val dir = new Path(path)
    val blocks = CellStoreSource.dataFiles(HadoopConf.fs(dir).listStatus(dir).toSeq)
      .map(st => st.getPath -> CellStoreSource.footerBlocks(st.getPath))
    val ranges = blocks.flatMap { case (file, bs) =>
      val (ranged, keyless) = bs.filter(_.rows > 0).partition(_.keyRange.isDefined)
      ranged.flatMap(_.keyRange) ++ decodedKeyRange(file, keyless.map(_.index))
    }
    Array(CellStoreAggPartition(blocks.flatMap(_._2).map(_.rows).sum,
      ranges.map(_._1).minOption(KeyOrder), ranges.map(_._2).maxOption(KeyOrder)))
  }

  /** The rowKey `[min, max]` of some row groups of a file, decoded from
    * their rowKey column on the driver; None for no groups. */
  private def decodedKeyRange(file: Path, groups: Seq[Int]): Option[MinMax] = {
    if (groups.isEmpty) return None
    val reader = new CellStoreColumnarReader(groups.map(g => CellChunk(file.toString, g, g + 1)),
      StructType(Seq(CellStoreSource.Schema("rowKey"))), CellStoreSource.boundsSetOf(Nil))
    var range = Option.empty[MinMax]
    try while (reader.next()) {
      val batch = reader.get()
      (0 until batch.numRows()).foreach { i =>
        val k = batch.column(0).getBinary(i)
        range = Some(range.fold((k, k)) { case (lo, hi) => (KeyOrder.min(lo, k), KeyOrder.max(hi, k)) })
      }
    } finally reader.close()
    range
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CellStoreAggReaderFactory(aggs.map {
      case _: CountStar => "count"
      case _: Min       => "min"
      case _: Max       => "max"
    })
}

final case class CellStoreAggPartition(
    rows: Long, min: Option[Array[Byte]], max: Option[Array[Byte]])
    extends InputPartition

class CellStoreAggReaderFactory(cols: Seq[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CellStoreAggPartition]
    val values: Array[Any] = cols.map {
      case "count" => p.rows
      case "min"   => p.min.orNull
      case "max"   => p.max.orNull
    }.toArray
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = new GenericInternalRow(values)
      override def close(): Unit = ()
    }
  }
}

class CellStoreScan(val path: String, buckets: Option[Int],
                    val pushed: Array[Filter], required: StructType,
                    limit: Option[Int] = None,
                    val noRewrite: Boolean = false,
                    preplanned: Option[Array[InputPartition]] = None)
    extends Scan with Batch
    with SupportsReportPartitioning with SupportsReportOrdering
    with SupportsRuntimeFiltering {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder => V2SortOrder}
  import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"CellStoreScan path=$path, buckets=${buckets.getOrElse(0)}, " +
      s"pushed=${pushed.mkString("[", ",", "]")}, " +
      s"limit=${limit.getOrElse(-1)}, " +
      s"columns=${required.fieldNames.mkString("[", ",", "]")}"

  // Runtime filtering (the DSv2 analogue of dynamic partition pruning): a
  // join against a small filtered dimension hands the scan an In(rowKey, …)
  // set at execution time; the scan drops the regions/bucket files those
  // keys can never touch. Values arrive before planInputPartitions is
  // (re-)invoked by Spark; the residual filter still re-checks membership,
  // so this is purely IO elision.
  @volatile private var runtime: Array[Filter] = Array.empty
  /** Only advertise `rowKey` while it survives column pruning: Spark's
    * PartitionPruning rule resolves these refs against the PRUNED scan
    * output, and a join not keyed on rowKey (e.g. the MOB content-key
    * join) prunes rowKey away — an unconditional ref then crashes the
    * rule with "Unable to resolve rowKey" instead of skipping DPP. */
  override def filterAttributes(): Array[NamedReference] =
    if (required.fieldNames.contains("rowKey")) Array(Expressions.column("rowKey"))
    else Array.empty
  override def filter(filters: Array[Filter]): Unit = {
    runtime = filters.filter(CellStoreSource.prunable)
    cached = null
  }

  /** Planned per filter state: `outputPartitioning`/`outputOrdering` must
    * describe exactly the partitions `planInputPartitions` returns. A
    * key-pinned read arrives with the builder's planning pass. */
  @volatile private var cached: Array[InputPartition] = preplanned.orNull
  private def partitions: Array[InputPartition] = {
    val cur = cached
    if (cur != null) cur
    else {
      val p = CellStoreScan.plan(path, buckets, pushed.toSeq, runtime.toSeq).partitions
      cached = p
      p
    }
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  /** Salted stores report `bucket(n, rowKey)` key-grouping; with the store
    * catalog resolving the bucket function and
    * `spark.sql.sources.v2.bucketing.enabled`, an equi-join of two same-N
    * stores on rowKey is a storage-partitioned join — ZERO exchange. */
  override def outputPartitioning(): Partitioning = buckets match {
    case Some(n) => new KeyGroupedPartitioning(
      Array(Expressions.bucket(n, "rowKey")), partitions.length)
    case None => new UnknownPartitioning(partitions.length)
  }

  /** Region/bucket files are written (rowKey, family, qualifier, ts)-sorted;
    * report that ordering when it actually holds for whole partitions —
    * i.e. every partition reads at most ONE file (a multi-file bucket after
    * appends is bucket-clustered but not merge-sorted). Only the prefix of
    * sort columns surviving column pruning is reported. */
  override def outputOrdering(): Array[V2SortOrder] = {
    val singleFilePartitions = partitions.forall {
      case CellStoreBucketPartition(_, files) => files.lengthCompare(1) <= 0
      case _: CellStorePartition              => true
      case _                                  => false
    }
    if (!singleFilePartitions) Array.empty
    else Seq("rowKey", "family", "qualifier", "ts")
      .takeWhile(required.fieldNames.contains)
      .map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CellStoreReaderFactory(required, (pushed ++ runtime).distinct, limit)

  /** Tail the store as a stream — the other half of the CDC loop
    * [[graft.streaming.CellStoreIngest]] writes. Committed files are
    * immutable (rename-in commit), so the file set is an append-only log
    * and a set-difference per micro-batch is exact. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new CellStoreMicroBatchStream(path, required, pushed)
}

/** One planning pass over a store: its scan partitions, and the footer row
  * count of the row groups those partitions keep. */
final case class CellStorePlan(partitions: Array[InputPartition], keptRows: Long)

object CellStoreScan {
  /** List the store, drop files by bloom and row-group chunks whose footer
    * statistics miss every branch of the filters' per-column bounds
    * ([[CellStoreSource.boundsSetOf]]), for the `pushed` (planning-time) and
    * `runtime` filters.
    * `keptRows` is exact on a range store, whose footers planning reads
    * anyway; a salted store reads its candidate files' footers for it only
    * when `pushed` pins keys, and reports 0 otherwise. */
  private[sources] def plan(path: String, buckets: Option[Int], pushed: Seq[Filter],
      runtime: Seq[Filter]): CellStorePlan = {
    val bounds = CellStoreSource.boundsSetOf(pushed ++ runtime)
    var rows = 0L
    val dir = new Path(path)
    val listing = HadoopConf.fs(dir).listStatus(dir).toSeq
    val files = CellStoreSource.dataFiles(listing)
    // Bloom elision for point lookups (HFile ROW bloom analogue): a pushed/
    // runtime GET/IN key set skips files whose bloom proves every key
    // absent — the in-range negative GET that min/max stats cannot serve.
    // Only a GET/IN reads sidecars, one small file per candidate (sized to
    // its data file's keys, 16 KiB at most), its length taken from this
    // listing: the files of the keys' buckets on a salted store; on a range
    // store EVERY file's sidecar, BEFORE its footer — footers are then read
    // only for bloom survivors, about one per hit instead of one per
    // region. Planning never parses store-wide bloom state. A file with no
    // sidecar is "may contain"; the residual filter (or the local scan's
    // key check) re-checks rows, so this is pure IO elision.
    val getKeys = CellStoreSource.exactKeys(pushed ++ runtime)
    lazy val sidecarLen = CellBloom.sidecarLengths(listing)
    def mayHave(name: String): Boolean = getKeys match {
      case Some(ks) =>
        sidecarLen.get(name).flatMap(CellBloom.readOne(dir, name, _))
          .forall(b => ks.exists(CellBloom.mayContain(b, _)))
      case None => true
    }
    buckets match {
      case Some(n) =>
        // Salted layout: one partition per salt bucket. Keys pinned by the
        // PUSHED filters (GET / IN) narrow which buckets are planned at all;
        // otherwise ALL buckets are emitted — including empty ones — so two
        // same-N stores always report identical partition values and stay
        // SPJ-compatible. RUNTIME keys must not change the partition-value
        // set (Spark checks), so they only empty the file lists of buckets
        // no runtime key hashes into.
        val byBucket: Map[Int, Seq[String]] = files
          .flatMap(st => CellStoreSource.bucketIdOf(st.getPath.getName)
            .map(b => b -> st.getPath.toString))
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        val pinned = CellStoreSource.exactKeys(pushed)
        val planned: Seq[Int] = pinned match {
          case Some(ks) => ks.map(CellBucketFunction.bucketOf(_, n)).distinct.sorted
          case None     => 0 until n
        }
        val runtimeBuckets: Option[Set[Int]] =
          CellStoreSource.exactKeys(runtime)
            .map(_.map(CellBucketFunction.bucketOf(_, n)).toSet)
        val parts = planned.map { b =>
          val fsOf =
            if (runtimeBuckets.forall(_.contains(b)))
              byBucket.getOrElse(b, Nil)
                .filter(p => mayHave(new Path(p).getName))
            else Nil
          // bucket partitions read whole files: only a key-pinned read,
          // which may take the local path, needs their footers here
          if (pinned.isDefined) fsOf.foreach { f =>
            rows += CellStoreSource.footerBlocks(new Path(f)).filter(bounds.keep).map(_.rows).sum
          }
          CellStoreBucketPartition(b, fsOf): InputPartition
        }
        CellStorePlan(parts.toArray, rows)
      case None =>
        // Range-region layout: surviving region files split into row-group-
        // aligned chunks of at most Spark's `spark.sql.files.maxPartitionBytes`
        // compressed bytes (a 10 GB region file must parallelize across
        // tasks, not become one; a row group larger than that is a chunk of
        // its own). Chunks whose every row group the bounds prune are
        // dropped; the reader re-checks per-group stats inside a kept chunk.
        // Footers are read driver-side; a 100 TB deployment swaps this for a
        // cached region index with the same contract.
        val maxBytes = SQLConf.get.filesMaxPartitionBytes
        val parts = files.filter(st => mayHave(st.getPath.getName)).flatMap { st =>
          val blocks = CellStoreSource.footerBlocks(st.getPath)
          val chunks = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Boolean)]
          blocks.foreach { b =>
            val hit = bounds.keep(b)
            if (hit) rows += b.rows
            chunks.lastOption match {
              case Some((lo, hi, bytes, anyHit))
                  if hi == b.index && bytes + b.compressedBytes <= maxBytes =>
                chunks(chunks.length - 1) = (lo, b.index + 1, bytes + b.compressedBytes, anyHit || hit)
              case _ =>
                chunks += ((b.index, b.index + 1, b.compressedBytes, hit))
            }
          }
          chunks.collect { case (lo, hi, _, true) =>
            CellStorePartition(CellChunk(st.getPath.toString, lo, hi)): InputPartition
          }
        }
        CellStorePlan(parts.toArray, rows)
    }
  }
}

/**
 * A key-pinned read answered on the driver — the cell store's `table.get`
 * (`CopyRow.java:109-111`). The builder takes it when the pushed filters pin
 * `rowKey` to a key set and the row groups planning keeps hold at most
 * [[CellStoreLocalScan.MaxRows]] cells; Spark plans it as a
 * `LocalTableScan`, so collecting a bare GET schedules no job. `rows()`
 * decodes the planned chunks through the batch path's
 * [[CellStoreColumnarReader]] (same row-group skip, same version and
 * delete-marker cells: a scan returns cells, never resolved rows), keeps
 * the cells whose key is in the set, and copies them out in the pruned
 * schema. `rowKey` is decoded for the key check even when pruned away.
 */
class CellStoreLocalScan(path: String, val plan: CellStorePlan,
                         pushed: Array[Filter], required: StructType)
    extends LocalScan {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}

  private val keys = CellStoreSource.exactKeys(pushed.toSeq).get

  override def readSchema(): StructType = required
  override def description(): String =
    s"CellStoreLocalScan path=$path, pushed=${pushed.mkString("[", ",", "]")}, " +
      s"chunks=${plan.partitions.length}, rows=${plan.keptRows}, " +
      s"columns=${required.fieldNames.mkString("[", ",", "]")}"

  override def rows(): Array[InternalRow] = {
    val decoded = StructType(CellStoreSource.Schema.filter(f =>
      f.name == "rowKey" || required.fieldNames.contains(f.name)))
    val keyIdx = decoded.fieldIndex("rowKey")
    val wanted = keys.map(java.nio.ByteBuffer.wrap).toSet
    val copyOut = UnsafeProjection.create(required.fields.toSeq.map(f =>
      BoundReference(decoded.fieldIndex(f.name), f.dataType, f.nullable)))
    val bounds = CellStoreSource.boundsSetOf(pushed.toSeq)
    val out = Array.newBuilder[InternalRow]
    plan.partitions.foreach { p =>
      val reader = new CellStoreColumnarReader(CellStoreReaderFactory.chunksOf(p), decoded, bounds)
      try while (reader.next()) {
        val batch = reader.get()
        val rowKeys = batch.column(keyIdx)
        var i = 0
        while (i < batch.numRows()) {
          if (wanted.contains(java.nio.ByteBuffer.wrap(rowKeys.getBinary(i))))
            out += copyOut(batch.getRow(i)).copy()
          i += 1
        }
      } finally reader.close()
    }
    out.result()
  }
}

object CellStoreLocalScan {
  /** Most cells a driver-side read decodes: four decoder batches. */
  val MaxRows: Long = 16384L
}

/**
 * Micro-batch tail of a cell store: the offset is the set of committed
 * region/bucket files; each batch reads exactly the files that appeared
 * since the previous offset. Valid because the store's commit protocol
 * only ever ADDS immutable files (appends rename in job-unique names).
 *
 * Compaction coordination: an offset-aware compaction
 * ([[graft.operators.Compaction.compactStoreIncremental]]) records an
 * inputs→outputs manifest. When every input of a rewrite is already in the
 * tail's committed offset, its outputs hold no cells the tail hasn't
 * delivered (a rewrite only drops versions, never adds) — so the tail
 * marks them delivered without reading them: no replay, no loss, and
 * compaction no longer has to pause while a tail is active. A rewrite
 * whose inputs were NOT all delivered is read normally (a fresh tail
 * needs the data). At 100 TB the name-set offset becomes a manifest
 * sequence number with the same semantics.
 */
class CellStoreMicroBatchStream(path: String, required: StructType, pushed: Array[Filter])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.{Offset => StreamOffset}

  private def listFiles(): Set[String] = {
    val dir = new Path(path)
    val fs = HadoopConf.fs(dir)
    if (!fs.exists(dir)) Set.empty
    else CellStoreSource.dataFiles(fs.listStatus(dir).toSeq).map(_.getPath.getName).toSet
  }

  override def initialOffset(): StreamOffset = CellStoreOffset(Set.empty)
  override def latestOffset(): StreamOffset = CellStoreOffset(listFiles())
  override def deserializeOffset(json: String): StreamOffset =
    CellStoreOffset.fromJson(json)
  override def commit(end: StreamOffset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(
      start: StreamOffset, end: StreamOffset): Array[InputPartition] = {
    val seen = start.asInstanceOf[CellStoreOffset].files
    val now = end.asInstanceOf[CellStoreOffset].files
    // rewrites of fully-delivered inputs are committed without being read
    val rewritten = CellStoreSource
      .readCompactManifests(new Path(path))
      .filter(m => m.inputs.nonEmpty && m.inputs.subsetOf(seen))
      .flatMap(_.outputs).toSet
    (now -- seen -- rewritten).toSeq.sorted
      .map(n => CellStorePartition(CellChunk(s"$path/$n", 0, Int.MaxValue)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CellStoreReaderFactory(required, pushed)
}

/** Offset = the set of committed store files (JSON array of names). */
final case class CellStoreOffset(files: Set[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    files.toSeq.sorted.map(f => "\"" + f.replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
}

object CellStoreOffset {
  def fromJson(json: String): CellStoreOffset = {
    val names = """"((?:[^"\\]|\\.)*)"""".r
      .findAllMatchIn(json).map(_.group(1).replace("\\\"", "\"")).toSet
    CellStoreOffset(names)
  }
}

/** A row-group-aligned slice [groupLo, groupHi) of one store file. */
final case class CellChunk(file: String, groupLo: Int, groupHi: Int)

final case class CellStorePartition(chunk: CellChunk) extends InputPartition

/** One salt bucket: all of the bucket's files, key = the bucket id (what
  * Spark groups on for the storage-partitioned join). */
final case class CellStoreBucketPartition(bucket: Int, files: Seq[String])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

class CellStoreReaderFactory(required: StructType, pushed: Array[Filter],
                             limit: Option[Int] = None)
    extends PartitionReaderFactory {
  /** Every partition reads columnar; the row entry point is never called. */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("cell-store partitions read columnar only")

  /** Spark's vectorized parquet decoder fed by the store's row-group skip —
    * page decode straight into ColumnarBatch, for every partition. A
    * count-only scan requests no columns and gets batches that carry only
    * their row counts. */
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new CellStoreColumnarReader(CellStoreReaderFactory.chunksOf(partition), required,
      CellStoreSource.boundsSetOf(pushed.toSeq), limit)
}

object CellStoreReaderFactory {
  /** The chunks a scan partition reads: one region chunk, or every file of
    * a salt bucket whole. */
  def chunksOf(partition: InputPartition): Seq[CellChunk] = partition match {
    case CellStorePartition(chunk)          => Seq(chunk)
    case CellStoreBucketPartition(_, files) => files.map(CellChunk(_, 0, Int.MaxValue))
    case other =>
      throw new IllegalArgumentException(s"unexpected partition: $other")
  }
}

/** Sequential vectorized reader over a partition's chunks (usually one). */
class CellStoreColumnarReader(
    chunks: Seq[CellChunk],
    required: StructType,
    bounds: CellStoreSource.ScanBoundsSet,
    limit: Option[Int] = None)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.datasources.parquet.{GraftVectorizedReader, VectorizedParquetRecordReader}

  private val it = chunks.iterator
  private var cur: VectorizedParquetRecordReader = _

  private def keep(chunk: CellChunk)(
      idx: Int, block: BlockMetaData): Boolean =
    idx >= chunk.groupLo && idx < chunk.groupHi && bounds.keep(block)

  private var emitted = 0L

  override def next(): Boolean = {
    // partial limit: stop decoding once this partition produced enough rows
    // (the batch that crosses the boundary is emitted whole; Spark trims)
    if (limit.exists(emitted >= _)) return false
    while (true) {
      if (cur == null) {
        if (!it.hasNext) return false
        val chunk = it.next()
        cur = GraftVectorizedReader.open(chunk.file, required, keep(chunk), capacity = 4096)
      }
      if (cur.nextBatch()) { emitted += cur.resultBatch().numRows(); return true }
      cur.close()
      cur = null
    }
    false // unreachable
  }
  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = cur.resultBatch()
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}
