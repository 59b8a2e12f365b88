package graft.sources

import java.util.UUID

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.{JobExecutionStatus, SparkContext, TaskContext, TaskKilledException}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.datasources.parquet.GraftRowParquetWriter
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThan}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.CellStoreSource.KeyOrder

/**
 * Merge compaction of a cell store — HBase's region compaction: a task
 * merges the sorted files of one region, keeps the cells a read can still
 * observe and streams them, in order, into one new file. Cells never move
 * between regions (re-regioning is [[graft.operators.StoreRebalance]]'s
 * job), so the pass is ONE Spark job with one task per merge group: no
 * shuffle, no sort and no range sampling.
 *
 * Merge groups are planned on the driver from the snapshot:
 *  - a salted store merges each bucket's files, and the task names its
 *    output by the bucket id;
 *  - a range store groups files whose footer `[min, max]` rowKey intervals
 *    overlap, so a key-disjoint region file is its own group. An
 *    overlapping group (appends over regions) is cut at row-group min keys
 *    into one slice per region it spans — the most key-disjoint files it
 *    holds — of about equal footer row counts. A slice keeps the rows whose
 *    key lies in its `[lo, hi)`, so a row's cells stay in one output file
 *    and the outputs stay key-disjoint.
 *
 * A task merges its files by (rowKey, family, qualifier, ts), the order
 * every store file is written in, and keeps each coordinate run's
 * survivors by the rules of [[graft.operators.Compaction.survivors]]: TTL,
 * delete masking (markers purged) and the newest `maxVersions` puts. It
 * writes through [[CellStoreDataWriter]], which also folds the bloom, and
 * the driver commits through [[CellStoreBatchWrite]].
 *
 * An open reader holds a decoded row group, so a task reads at most
 * [[MaxFanIn]] files at once (HBase's `hbase.hstore.compaction.max`). A
 * larger group merges in rounds: each round merges the first `MaxFanIn`
 * files into one spill file in the job's temp directory, keeping each
 * coordinate's newest delete marker so it can still mask the puts of
 * later files, until one round's files remain.
 */
object CellStoreCompaction {

  /** One task's input: the files it merges and the rowKey slice it keeps
    * (`lo` inclusive, `hi` exclusive, None = unbounded). `partitionId`
    * names the output file: a salted store's bucket id. */
  private[graft] final case class MergeGroup(partitionId: Int, files: Seq[String],
      lo: Option[Array[Byte]] = None, hi: Option[Array[Byte]] = None)

  /** The most files one merge round reads at once. */
  private[graft] val MaxFanIn = 10

  /** Compact the committed files of the store at `path` in one job.
    * `overwrite` commits a full-store overwrite; otherwise the commit
    * replaces exactly the snapshot and records a compaction manifest.
    * Returns the snapshot's file names (empty = nothing to compact). */
  def compact(spark: SparkSession, path: String, maxVersions: Int, ttlWatermark: Long,
      overwrite: Boolean): Seq[String] = {
    val dir = new Path(path)
    val fs = HadoopConf.fs(dir)
    if (!fs.exists(dir)) return Nil
    val inputs = CellStoreSource.dataFiles(fs.listStatus(dir).toSeq).map(_.getPath)
    if (inputs.isEmpty) return Nil
    val buckets = CellStoreSource.readBuckets(dir)
    val groups = plan(inputs, buckets)
    val write = new CellStoreBatchWrite(path, UUID.randomUUID().toString,
      CellStoreSource.Schema, truncateFirst = overwrite, buckets,
      replaceFiles = if (overwrite) Nil else inputs.map(_.getName))
    try write.commit(run(spark.sparkContext, groups, write.writerFactory, maxVersions, ttlWatermark))
    catch { case t: Throwable => write.abort(Array.empty); throw t }
    inputs.map(_.getName)
  }

  /** The merge groups of a snapshot (see the object doc). */
  private[graft] def plan(files: Seq[Path], buckets: Option[Int]): Seq[MergeGroup] = buckets match {
    case Some(_) =>
      files.flatMap(f => CellStoreSource.bucketIdOf(f.getName).map(_ -> f.toString))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (b, fs) => MergeGroup(b, fs.map(_._2)) }
    case None =>
      overlapping(files.map(f => FileSpan(f.toString, CellStoreSource.footerBlocks(f))))
        .flatMap(slices).zipWithIndex.map { case (g, i) => g.copy(partitionId = i) }
  }

  /** A range-store file and its row groups; `range` is its rowKey
    * `[min, max]` ([[CellStoreSource.keyRangeOf]]). */
  private[graft] final case class FileSpan(file: String, blocks: Seq[CellStoreSource.BlockInfo]) {
    lazy val range: Option[(Array[Byte], Array[Byte])] = CellStoreSource.keyRangeOf(blocks)
  }

  /** The files that hold rows, grouped where their key intervals overlap,
    * transitively; a file without key statistics could hold any key, so it
    * joins every file in one group. */
  private[graft] def overlapping(files: Seq[FileSpan]): Seq[Seq[FileSpan]] = {
    val spans = files.filter(_.blocks.exists(_.rows > 0))
    if (spans.exists(_.range.isEmpty)) Seq(spans)
    else {
      val groups = ArrayBuffer.empty[ArrayBuffer[FileSpan]]
      var hi: Array[Byte] = null
      spans.sortBy(_.range.get._1)(KeyOrder).foreach { s =>
        val (min, max) = s.range.get
        if (hi != null && KeyOrder.lteq(min, hi)) groups.last += s
        else groups += ArrayBuffer(s)
        if (hi == null || KeyOrder.gt(max, hi)) hi = max
      }
      groups.map(_.toSeq).toSeq
    }
  }

  /** The regions an overlapping group spans: the most pairwise key-disjoint
    * files it holds (greedy by max key, which is optimal for intervals). */
  private def regionsIn(group: Seq[FileSpan]): Int =
    group.flatMap(_.range).sortBy(_._2)(KeyOrder)
      .foldLeft((0, Option.empty[Array[Byte]])) { case ((n, end), (min, max)) =>
        if (end.forall(KeyOrder.gt(min, _))) (n + 1, Some(max)) else (n, end)
      }._1

  /** A key-disjoint region file as is; an overlapping group cut at row-group
    * min keys into one slice per region it spans, each slice reading only
    * the files its key interval touches. */
  private def slices(group: Seq[FileSpan]): Seq[MergeGroup] = {
    val n = regionsIn(group)
    val blocks = group.flatMap(_.blocks).flatMap(b => b.keyRange.map(_._1 -> b.rows))
      .sortBy(_._1)(KeyOrder)
    if (n <= 1 || blocks.isEmpty) return Seq(MergeGroup(0, group.map(_.file)))
    val target = (blocks.map(_._2).sum + n - 1) / n
    val cuts = ArrayBuffer.empty[Array[Byte]]
    var last = blocks.head._1
    var rows = 0L
    blocks.foreach { case (min, rowCount) =>
      if (rows >= target && cuts.size < n - 1 && KeyOrder.gt(min, last)) {
        cuts += min; last = min; rows = 0L
      }
      rows += rowCount
    }
    val bounds = None +: cuts.map(Some(_)).toSeq
    bounds.zip(bounds.tail :+ None).map { case (lo, hi) =>
      val slice = CellStoreSource.boundsOf(sliceFilters(lo, hi))
      MergeGroup(0, group.filter(_.range.forall { case (mn, mx) => slice.keeps("rowKey", mn, mx) })
        .map(_.file), lo, hi)
    }
  }

  /** The filters that keep a slice's rows: rowKey in `[lo, hi)`. */
  private def sliceFilters(lo: Option[Array[Byte]], hi: Option[Array[Byte]]): Seq[Filter] =
    lo.map(GreaterThanOrEqual("rowKey", _)).toSeq ++ hi.map(LessThan("rowKey", _))

  /** Run one task per group and return their commit messages. On failure,
    * wait until every task of the job has ended before the caller aborts:
    * a task that outlived the failure would write into the removed temp
    * directory again. Spark marks the job's other tasks killed, and a
    * merge task stops at its next batch once it is. */
  private[graft] def run(sc: SparkContext, groups: Seq[MergeGroup], factory: CellStoreWriterFactory,
      maxVersions: Int, ttlWatermark: Long): Array[WriterCommitMessage] = {
    val out = new Array[WriterCommitMessage](groups.size)
    if (groups.isEmpty) return out
    val job = sc.submitJob(sc.parallelize(groups, groups.size),
      (it: Iterator[MergeGroup]) => mergeTask(factory, it.next(), maxVersions, ttlWatermark),
      groups.indices, (i: Int, m: WriterCommitMessage) => out(i) = m, ())
    Await.ready(job, Duration.Inf)
    job.value.get.failed.foreach { t =>
      job.jobIds.foreach(awaitTasks(sc, _))
      throw t
    }
    out
  }

  /** Block until the status store has seen `jobId` end with no task still
    * running (bounded, so a lost listener event cannot hang the caller). */
  private def awaitTasks(sc: SparkContext, jobId: Int): Unit = {
    val st = sc.statusTracker
    def quiet = st.getJobInfo(jobId).exists(j => j.status != JobExecutionStatus.RUNNING &&
      j.stageIds.forall(s => st.getStageInfo(s).forall(_.numActiveTasks == 0)))
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Merge one group into one output file, in rounds of at most
    * [[MaxFanIn]] files. The rows and bytes it reads count as the task's
    * input, as a scan's would. */
  private def mergeTask(factory: CellStoreWriterFactory, g: MergeGroup,
      maxVersions: Int, ttlWatermark: Long): WriterCommitMessage = {
    val ctx = TaskContext.get()
    val filters = sliceFilters(g.lo, g.hi)
    val slice = CellStoreSource.boundsOf(filters)
    val bytesRead = Shims.inputBytesCallback()
    var rowsRead = 0L
    def mergeInto(files: Seq[String], keepMarkers: Boolean)(write: UnsafeRow => Unit): Unit = {
      val readers = files.map(f => new CellStoreColumnarReader(
        Seq(CellChunk(f, 0, Int.MaxValue)), CellStoreSource.Schema,
        CellStoreSource.boundsSetOf(filters)))
      try {
        val streams = readers.map(r => cellsOf(r, ctx, rowsRead += _)
          .filter(c => slice.keeps("rowKey", c.key, c.key)))
        survivors(merged(streams), maxVersions, ttlWatermark, keepMarkers).foreach(write)
      } finally readers.foreach(_.close())
    }
    val spills = ArrayBuffer.empty[Path]
    val writer = factory.createWriter(g.partitionId, ctx.taskAttemptId())
    try {
      var files = g.files
      while (files.size > MaxFanIn) {
        val spill = new Path(factory.tmpDir,
          s"spill-${ctx.taskAttemptId()}-${UUID.randomUUID()}.parquet")
        spills += spill
        val out = GraftRowParquetWriter.open(spill.toString, CellStoreSource.Schema)
        try mergeInto(files.take(MaxFanIn), keepMarkers = true)(out.write) finally out.close()
        files = spill.toString +: files.drop(MaxFanIn)
      }
      mergeInto(files, keepMarkers = false)(writer.write)
      writer.commit()
    } catch { case t: Throwable => writer.abort(); throw t }
    finally {
      writer.close()
      spills.foreach(p => HadoopConf.fs(p).delete(p, false))
      Shims.recordInput(rowsRead, bytesRead())
    }
  }

  /** One decoded cell, copied out of the decoder's reused vectors, with
    * its sort key read once. */
  private final class Cell(val row: UnsafeRow) {
    val key: Array[Byte] = row.getBinary(0)
    val family: UTF8String = if (row.isNullAt(1)) null else row.getUTF8String(1)
    val qualifier: Array[Byte] = if (row.isNullAt(2)) null else row.getBinary(2)
    def hasTs: Boolean = !row.isNullAt(3)
    def ts: Long = row.getLong(3)
    def isDelete: Boolean = !row.isNullAt(4) && row.getUTF8String(4) == Delete
    def isPut: Boolean = !row.isNullAt(4) && !isDelete
  }

  private val Delete = UTF8String.fromString("Delete")

  /** A reader's cells, batch by batch; `counted` sees each batch's size.
    * Stops with the task once Spark has killed it. */
  private def cellsOf(reader: CellStoreColumnarReader, ctx: TaskContext,
      counted: Int => Unit): Iterator[Cell] = {
    val copy = UnsafeProjection.create(CellStoreSource.Schema)
    Iterator.continually(reader).takeWhile { r =>
      if (ctx.isInterrupted()) throw new TaskKilledException("merge compaction task killed")
      r.next()
    }
      .flatMap { r =>
        val batch = r.get()
        counted(batch.numRows)
        batch.rowIterator().asScala.map(row => new Cell(copy(row).copy()))
      }
  }

  /** Ascending nulls-first, as the writers sort. */
  private def nullsFirst[A <: AnyRef](a: A, b: A)(cmp: (A, A) => Int): Int =
    if (a == null) { if (b == null) 0 else -1 } else if (b == null) 1 else cmp(a, b)

  private def coordinateCmp(a: Cell, b: Cell): Int = {
    var c = KeyOrder.compare(a.key, b.key)
    if (c == 0) c = nullsFirst(a.family, b.family)(_ binaryCompare _)
    if (c == 0) c = nullsFirst(a.qualifier, b.qualifier)(KeyOrder.compare)
    c
  }

  private val CellOrder: Ordering[Cell] = (a, b) => {
    val c = coordinateCmp(a, b)
    if (c != 0) c
    else if (!a.hasTs) { if (!b.hasTs) 0 else -1 }
    else if (!b.hasTs) 1
    else java.lang.Long.compare(a.ts, b.ts)
  }

  /** k-way merge of sorted cell streams. */
  private def merged(streams: Seq[Iterator[Cell]]): Iterator[Cell] =
    if (streams.size == 1) streams.head
    else new Iterator[Cell] {
      private val heads = new java.util.PriorityQueue[(Cell, Iterator[Cell])](
        streams.size, (a, b) => CellOrder.compare(a._1, b._1))
      streams.foreach(s => if (s.hasNext) heads.add((s.next(), s)))
      override def hasNext: Boolean = !heads.isEmpty
      override def next(): Cell = {
        val (c, s) = heads.poll()
        if (s.hasNext) heads.add((s.next(), s))
        c
      }
    }

  /** Each (rowKey, family, qualifier) run's survivors, in sorted order:
    * cells at or past the TTL watermark, puts newer than the run's latest
    * delete marker, the newest `maxVersions` of those. `keepMarkers` also
    * keeps that latest marker, for a round whose output merges again. */
  private def survivors(cells: Iterator[Cell], maxVersions: Int, ttlWatermark: Long,
      keepMarkers: Boolean): Iterator[UnsafeRow] = {
    val in = cells.buffered
    new Iterator[Seq[UnsafeRow]] {
      override def hasNext: Boolean = in.hasNext
      override def next(): Seq[UnsafeRow] = {
        val run = ArrayBuffer(in.next())
        while (in.hasNext && coordinateCmp(in.head, run.head) == 0) run += in.next()
        val live = run.filter(c => c.hasTs && c.ts >= ttlWatermark)
        val marker = live.filter(_.isDelete).maxByOption(_.ts)
        val puts = live.filter(c => c.isPut && marker.forall(c.ts > _.ts)).takeRight(maxVersions)
        (marker.filter(_ => keepMarkers) ++ puts).map(_.row).toSeq
      }
    }.flatten
  }
}
