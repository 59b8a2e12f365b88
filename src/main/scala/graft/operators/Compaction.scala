package graft.operators

import graft.sources.CellStoreCompaction
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
 * Two forms, one set of rules:
 *  - [[survivors]] / [[survivorsPerFamily]], the library form over any cell
 *    DataFrame: one shuffle (the per-coordinate window, shared by the
 *    marker-max and retention passes);
 *  - [[compactStore]] / [[compactStoreIncremental]], the store pass: one
 *    merge job ([[graft.sources.CellStoreCompaction]]) with one task per
 *    region or salt bucket, which merges that region's sorted files and
 *    applies the rules to each coordinate's run. No shuffle and no range
 *    sampling; region boundaries are kept, as HBase keeps splits apart from
 *    compaction ([[StoreRebalance]] re-regions a store).
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

  /** Compact a cell-store directory in place, keeping its layout: a salted
    * store keeps its buckets, a range store its regions. Files whose key
    * intervals overlap (appends over regions) merge as one group, cut into
    * one key-disjoint slice per region it spans.
    * Full-store overwrite — requires exclusive access (no concurrent
    * ingest or tail); [[compactStoreIncremental]] lifts both restrictions. */
  def compactStore(
      spark: SparkSession,
      path: String,
      maxVersions: Int = 1,
      ttlWatermark: Long = Long.MinValue): Unit =
    CellStoreCompaction.compact(spark, path, maxVersions, ttlWatermark, overwrite = true)

  /** Offset-aware compaction, safe under concurrent ingest and live tails:
    *
    *  1. Snapshot the committed file list (committed files are immutable).
    *  2. Merge EXACTLY those files, as [[compactStore]] does.
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
      ttlWatermark: Long = Long.MinValue): Seq[String] =
    CellStoreCompaction.compact(spark, path, maxVersions, ttlWatermark, overwrite = false)
}
