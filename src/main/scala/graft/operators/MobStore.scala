package graft.operators

import graft.model.CellTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * MOB (medium-object) storage — HBase's `IS_MOB`/`MOB_THRESHOLD` column-
 * family mode for the cell store: cells whose value meets the threshold are
 * stored once in a content-addressed side table, and the main store keeps a
 * small reference cell. HBase does this so region flushes/compactions stop
 * rewriting megabyte values (write amplification) and the memstore/cache
 * stay dense; the same pressure exists here — the multimodal tier carries
 * opaque image/audio bytes in `value` ([[Multimodal]]), and a major
 * compaction ([[Compaction]]) of a blob-heavy store would rewrite every
 * blob on every pass.
 *
 * Layout under `dir`:
 *  - `dir/main` — an ordinary region-layout cell store; blob cells carry
 *    `cellType = "MobRef"` and a `mob:<xxhash64>:<len>` value. Every
 *    visibility/compaction fold in the engine treats non-"Delete" types as
 *    Puts, so refs flow through delete masking, TTL, and version retention
 *    untouched — MOB composes with the whole mutate surface for free.
 *  - `dir/mob` — parquet of (mob_key, mob_len, value), content-addressed
 *    by (xxhash64, length) and deduplicated: N rows referencing the same
 *    blob store its bytes ONCE (HBase dedups per flush; content addressing
 *    dedups globally).
 *
 * Scale shape: the main store stays bytes-small, so scans that never
 * decode `value` (key scans, counts, qualifier filters, grouped-aggregate
 * pushdown) read no blob pages at all; [[readResolved]] joins ONLY the ref
 * cells against the side table on the content key — blob bytes cross the
 * network once, and never for queries that drop them. Compacting the main
 * store ([[compactMain]]) leaves `dir/mob` byte-identical (asserted in
 * MobStoreSpec) — the write-amplification win MOB exists for.
 */
object MobStore {

  /** The ref-cell type. Not "Delete", so every visibility fold keeps it. */
  val RefType = "MobRef"

  private def refValue = concat(
    lit("mob:"), hex(xxhash64(col("value"))), lit(":"),
    length(col("value")).cast("string")).cast("binary")

  /** The blob predicate for a threshold. NULL-value Puts are NOT blobs
    * (coalesce, not raw three-valued logic: a bare `length(value) >= t`
    * is NULL for a NULL value, and then BOTH `filter(isBlob)` and
    * `filter(!isBlob)` drop the cell — it would vanish from the store). */
  def isBlob(threshold: Int): org.apache.spark.sql.Column =
    isBlobPerFamily(Map.empty, threshold)

  /** [[isBlob]] with the threshold resolved per column family — HBase
    * sets `MOB_THRESHOLD` on the family descriptor, so a store can keep
    * e.g. image bytes MOB'd at 4 KB while text stays inline far longer
    * (same schema-level CASE fold as [[Compaction.survivorsPerFamily]];
    * families are driver-known metadata, the plan stays narrow). */
  def isBlobPerFamily(thresholds: Map[String, Int], default: Int)
      : org.apache.spark.sql.Column = {
    require(default > 0 && thresholds.values.forall(_ > 0),
      "mob thresholds must be positive")
    val thr = thresholds.foldLeft(lit(default)) { case (acc, (f, t)) =>
      when(col("family") === f, lit(t)).otherwise(acc)
    }
    col("cellType") === "Put" &&
      coalesce(length(col("value")) >= thr, lit(false))
  }

  /** Blob cells → their small MobRef twins. */
  private[graft] def refCells(blobs: DataFrame): DataFrame =
    blobs.select(
      col("rowKey"), col("family"), col("qualifier"), col("ts"),
      lit(RefType).as("cellType"),
      refValue.as("value"))

  /** Blob cells → deduplicated content-addressed side-table rows. */
  private[graft] def blobEntries(blobs: DataFrame): DataFrame =
    blobs.select(
        xxhash64(col("value")).as("mob_key"),
        length(col("value")).cast("long").as("mob_len"),
        col("value"))
      .dropDuplicates("mob_key", "mob_len")

  /** Split `cells` at `threshold` value bytes and persist both sides. */
  def writeMob(cells: DataFrame, dir: String, threshold: Int,
      numRegions: Int = 8): Unit =
    writeMobPerFamily(cells, dir, Map.empty, threshold, numRegions)

  /** [[writeMob]] with per-family thresholds (unlisted families use
    * `default`). */
  def writeMobPerFamily(cells: DataFrame, dir: String,
      thresholds: Map[String, Int], default: Int,
      numRegions: Int = 8): Unit = {
    val pred = isBlobPerFamily(thresholds, default)
    val blobs = cells.filter(pred)
    blobEntries(blobs)
      .repartition(numRegions, col("mob_key"))
      .write.mode("overwrite").parquet(s"$dir/mob")
    val main = cells.filter(!pred).unionByName(refCells(blobs))
    CellTable.writeRegionLayout(main, s"$dir/main", numRegions)
  }

  /** The main store as written — refs visible as refs (cheap scans). */
  def readMain(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("cellstore").load(s"$dir/main")

  /** Decode a `mob:<hex>:<len>` ref value into its (mob_key, mob_len)
    * content address — the ONE definition shared by resolution and
    * reclaim (a divergent copy would let reclaim compute an empty live
    * set while reads still resolve). keyToLong, not conv(..,16,10):
    * xxhash64 spans the full signed 64-bit range and a one-shot
    * unsigned conv overflows BIGINT → NULL. */
  private def refAddress(df: DataFrame): DataFrame = {
    val parts = split(col("value").cast("string"), ":")
    df.withColumn("mob_key",
        CellTable.keyToLong(unhex(lpad(element_at(parts, 2), 16, "0"))))
      .withColumn("mob_len", element_at(parts, 3).cast("long"))
  }

  /** The store with every ref resolved back to its blob bytes — the
    * transparent-read view. Only ref cells join the side table; plain
    * cells pass through untouched. */
  def readResolved(spark: SparkSession, dir: String): DataFrame = {
    val main = readMain(spark, dir)
    val plain = main.filter(col("cellType") =!= RefType)
    val refs = refAddress(main.filter(col("cellType") === RefType))
    val mob = spark.read.parquet(s"$dir/mob")
      .withColumnRenamed("value", "_blob")
    refs.join(mob, Seq("mob_key", "mob_len"))
      .select(
        col("rowKey"), col("family"), col("qualifier"), col("ts"),
        lit("Put").as("cellType"), col("_blob").as("value"))
      .unionByName(plain)
  }

  /** Major-compact the MAIN store only; `dir/mob` is never rewritten. */
  def compactMain(spark: SparkSession, dir: String, maxVersions: Int = 1,
      ttlWatermark: Long = Long.MinValue): Unit =
    Compaction.compactStore(spark, s"$dir/main", maxVersions, ttlWatermark)

  /** Distinct content addresses of every PHYSICALLY PRESENT ref cell —
    * the liveness set reclaim and the store doctor share. */
  private[graft] def refAddresses(spark: SparkSession, dir: String): DataFrame =
    refAddress(readMain(spark, dir).filter(col("cellType") === RefType))
      .select("mob_key", "mob_len").distinct()

  /** Drop side-table blobs no main-store ref can reach — the MOB garbage
    * collection HBase runs as mob compaction, and the step that makes a
    * subject purge REAL for blob bytes: after the purged rows' ref cells
    * are masked and compacted away ([[Governance]] → [[compactMain]]),
    * their blobs are orphans, and this pass physically removes them.
    *
    * Liveness = the content keys referenced by any PHYSICALLY PRESENT
    * ref cell, visible or not — HBase's mob-GC discipline (live mob
    * files are the ones store files reference). A visibility-based
    * definition would be wrong: a delete-masked or version-superseded
    * ref is still reachable by as-of ([[CellTable.visibleAsOf]]) and
    * VERSIONS ([[CellTable.visibleVersions]]) reads, and dropping its
    * blob would make those reads silently lose cells. Run a major
    * compaction first ([[compactMain]]) — THAT is what physically
    * removes purged/superseded refs and orphans their blobs. The
    * live-key set is two BIGINTs per distinct blob; blob bytes are read
    * only to be rewritten, once, into the surviving side table.
    *
    * Returns (blobs kept, blobs dropped). */
  def reclaimMob(spark: SparkSession, dir: String, numRegions: Int = 8): (Long, Long) = {
    val live = refAddresses(spark, dir)
    val mob = spark.read.parquet(s"$dir/mob")
    val total = mob.count()
    val survivors = mob.join(live, Seq("mob_key", "mob_len"), "left_semi")
    // stage, then swap with CHECKED renames: mob → old, staging → mob,
    // drop old. Hadoop FileSystem reports most rename failures by
    // returning false, not throwing — an unchecked false would delete
    // the only copy of the side table. On a failed second hop the first
    // is rolled back, so every failure leaves a readable dir/mob.
    val staged = s"$dir/mob_reclaim_staging"
    survivors.repartition(numRegions, col("mob_key"))
      .write.mode("overwrite").parquet(staged)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val old = s"$dir/mob_reclaim_old"
    fs.delete(p(old), true) // leftover from a crashed earlier pass
    if (!fs.rename(p(s"$dir/mob"), p(old)))
      throw new IllegalStateException(s"reclaim: cannot move $dir/mob aside")
    if (!fs.rename(p(staged), p(s"$dir/mob"))) {
      fs.rename(p(old), p(s"$dir/mob"))
      throw new IllegalStateException(s"reclaim: cannot install $staged")
    }
    fs.delete(p(old), true)
    val kept = spark.read.parquet(s"$dir/mob").count()
    (kept, total - kept)
  }

  /** Storage accounting: per family, ref cells vs distinct blobs vs plain
    * cells — the dedup and bytes-kept-out-of-the-main-store evidence. */
  def mobStats(spark: SparkSession, dir: String): DataFrame = {
    val main = readMain(spark, dir)
    val perFamily = main.groupBy("family").agg(
      count(when(col("cellType") === RefType, 1)).as("n_refs"),
      count(when(col("cellType") =!= RefType, 1)).as("n_plain"),
      sum(length(col("value")).cast("long")).as("main_bytes"))
    val mob = spark.read.parquet(s"$dir/mob").agg(
      count(lit(1)).as("n_blobs"),
      sum(col("mob_len")).as("blob_bytes"))
    perFamily.crossJoin(mob) // mob agg is one row
  }
}
