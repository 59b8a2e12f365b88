package graft.operators

import graft.model.CellTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Store maintenance — the HBase major-compaction analogue for the cell
 * store: rewrite the region layout keeping only the cells a read can still
 * observe, reclaiming space from superseded versions and expired data.
 * (The reference tooling operates on live HBase tables where the server
 * compacts; an engine that OWNS its store needs the pass as an operator.)
 *
 * Semantics, applied in order:
 *  1. TTL: cells with `ts < watermark` expire (HBase `TTL`), where the
 *     watermark is an explicit parameter — deterministic and replayable,
 *     never wall-clock.
 *  2. Delete masking: a `Delete` marker hides every cell at or before its
 *     timestamp in its (rowKey, family, qualifier) — HBase DeleteColumn.
 *     Masked cells are dropped; the markers themselves are purged too
 *     (major-compaction discipline — every committed file is in the
 *     rewrite, so no older file can still hold a masked cell) unless
 *     `retainDeleteMarkers` asks for minor-compaction behavior. As in
 *     HBase, a client writing a PRE-marker timestamp after a purging
 *     compaction can resurrect — schedule purges accordingly.
 *  3. Version retention: keep the newest `maxVersions` surviving cells per
 *     (rowKey, family, qualifier) — HBase `VERSIONS`.
 *
 * Shape: one shuffle (the per-coordinate window, shared by the marker-max
 * and retention passes), then the writer's declared distribution re-ranges
 * the survivors into sorted region files. At 100 TB this runs
 * region-by-region (the layout makes regions independent units of work) —
 * same operator, partition-pruned input.
 */
object Compaction {

  /** Per-family retention config — HBase sets `TTL` and `VERSIONS` on the
    * column-family descriptor, so the compaction policy is per family. */
  final case class FamilyPolicy(
      maxVersions: Int = 1,
      ttlWatermark: Long = Long.MinValue)

  /** The cells surviving TTL + delete masking + version retention. */
  def survivors(cells: DataFrame, maxVersions: Int, ttlWatermark: Long,
      retainDeleteMarkers: Boolean = false): DataFrame =
    survivorsPerFamily(cells, Map.empty,
      FamilyPolicy(maxVersions, ttlWatermark), retainDeleteMarkers)

  /** [[survivors]] with the policy resolved per column family (HBase's
    * actual schema model): `policies` maps family name → policy, `default`
    * covers unlisted families. Families are schema-level metadata — a
    * handful of driver-known names — so the per-cell policy lookup folds
    * into two literal CASE columns; the plan shape (one window shuffle)
    * is identical to the uniform-policy pass. */
  def survivorsPerFamily(cells: DataFrame,
      policies: Map[String, FamilyPolicy],
      default: FamilyPolicy,
      retainDeleteMarkers: Boolean = false): DataFrame = {
    val ttlCol = policies.foldLeft(lit(default.ttlWatermark)) {
      case (acc, (f, p)) =>
        when(col("family") === f, lit(p.ttlWatermark)).otherwise(acc)
    }
    val maxVCol = policies.foldLeft(lit(default.maxVersions)) {
      case (acc, (f, p)) =>
        when(col("family") === f, lit(p.maxVersions)).otherwise(acc)
    }
    val w = Window.partitionBy("rowKey", "family", "qualifier")
    val live = cells.filter(col("ts") >= ttlCol)
      .withColumn("_delTs",
        max(when(col("cellType") === "Delete", col("ts"))).over(w))
    val puts = live
      .filter(col("cellType") =!= "Delete" &&
        (col("_delTs").isNull || col("ts") > col("_delTs")))
      .withColumn("_v", row_number().over(w.orderBy(col("ts").desc)))
      .filter(col("_v") <= maxVCol)
      .drop("_delTs", "_v")
    if (retainDeleteMarkers)
      puts.unionByName(live.filter(col("cellType") === "Delete").drop("_delTs"))
    else puts
  }

  /** Compact a cell-store directory in place via the DSv2 writer, keeping
    * the store's layout: a salted store is re-salted with its manifest's
    * bucket count (overwrite would otherwise silently fall back to range
    * layout and break storage-partitioned joins), a range store is
    * re-ranged. Full-store overwrite — requires exclusive access (no
    * concurrent ingest or tail); [[compactStoreIncremental]] lifts both
    * restrictions. */
  def compactStore(
      spark: SparkSession,
      path: String,
      maxVersions: Int = 1,
      ttlWatermark: Long = Long.MinValue,
      numRegions: Int = 8): Unit = {
    val buckets = graft.sources.CellStoreSource.readBuckets(new org.apache.hadoop.fs.Path(path))
    val out = survivors(spark.read.format("cellstore").load(path), maxVersions, ttlWatermark)
      .write.format("cellstore").mode("overwrite")
    buckets match {
      case Some(n) => out.option("buckets", n.toString).save(path)
      case None    => out.option("numRegions", numRegions.toString).save(path)
    }
  }

  /** Offset-aware compaction, safe under concurrent ingest and live tails:
    *
    *  1. Snapshot the committed file list (committed files are immutable).
    *  2. Read EXACTLY those files (scan `files` option) and compact them.
    *  3. Commit with `replaceFiles` = the snapshot: only the snapshot files
    *     are deleted, so appends that landed mid-pass survive untouched —
    *     the HBase minor-compaction discipline.
    *  4. The commit records an inputs→outputs manifest; a live store tail
    *     whose offset covers the inputs marks the outputs delivered instead
    *     of replaying them ([[graft.sources.CellStoreMicroBatchStream]]).
    *
    * Returns the rewritten input file names (empty = nothing to compact).
    */
  def compactStoreIncremental(
      spark: SparkSession,
      path: String,
      maxVersions: Int = 1,
      ttlWatermark: Long = Long.MinValue,
      numRegions: Int = 8): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = graft.sources.HadoopConf.fs(dir)
    if (!fs.exists(dir)) return Nil
    val inputs = fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") && s.getLen > 0)
      .map(_.getPath.getName).sorted.toSeq
    if (inputs.isEmpty) return Nil
    val buckets = graft.sources.CellStoreSource.readBuckets(dir)
    val snapshot = spark.read.format("cellstore")
      .option("files", inputs.mkString(",")).load(path)
    val out = survivors(snapshot, maxVersions, ttlWatermark)
      .write.format("cellstore").mode("append")
      .option("replaceFiles", inputs.mkString(","))
    buckets match {
      case Some(n) => out.option("buckets", n.toString).save(path)
      case None    => out.option("numRegions", numRegions.toString).save(path)
    }
    inputs
  }
}
