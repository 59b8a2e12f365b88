package graft.operators

import graft.model.CellTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Secondary value index for the cell store — the HBase secondary-index
 * pattern (an index TABLE maintained next to the base table, since HBase
 * itself only indexes row keys): a salted cell store keyed by the 8-byte
 * big-endian xxhash64 of the cell VALUE, carrying the base rowKey as the
 * cell payload. "Find every row holding value V" becomes
 *
 *   1. one point GET on the index (pushed key predicate → bucket pruning +
 *      bloom file elision — kilobytes read, not a scan),
 *   2. runtime-filtered GETs on the base store for the recovered rowKeys
 *      (`SupportsRuntimeFiltering` hands the scan an In(rowKey) set),
 *   3. an exact value re-check (hash collisions can only ADD candidates,
 *      never lose rows — the residual filter restores exactness).
 *
 * At 100 TB the full-scan alternative reads the corpus; the index path
 * reads one bucket slice + |matches| GETs. Maintenance is an append of
 * [[indexCells]] alongside every base append (same discipline as
 * [[IncrementalDedup]]'s LSH index store).
 */
object ValueIndex {

  val Family = "vix"

  /** Index rows for a batch of base cells: key = hash(value), payload =
    * base rowKey. Qualifier carries the base rowKey too so same-valued
    * cells of different rows stay distinct cells in the index store. */
  def indexCells(cells: DataFrame): DataFrame =
    cells.select(
        col("rowKey").as("_base"), col("ts").as("_ts"), col("value").as("_v"))
      .select(
        CellTable.bigEndianKey(xxhash64(col("_v"))).as("rowKey"),
        lit(Family).as("family"),
        col("_base").as("qualifier"),
        col("_ts").as("ts"),
        lit("Put").as("cellType"),
        col("_base").as("value"))

  /** Build (overwrite) the index store for a base store's cells. */
  def build(cells: DataFrame, indexPath: String, buckets: Int = 8): Unit =
    indexCells(cells).write.format("cellstore")
      .option("buckets", buckets.toString).mode("overwrite").save(indexPath)

  /**
   * All base cells whose value equals `value`, via the index. The index
   * key expression is foldable, so Catalyst constant-folds it into a
   * pushed GET; the base join receives the candidate keys as a runtime
   * rowKey filter.
   */
  def lookup(spark: SparkSession, indexPath: String, basePath: String,
      value: Array[Byte]): DataFrame =
    candidateJoin(spark, indexPath, basePath, value)
      .filter(col("value") === lit(value))

  /** The index-probe join WITHOUT the final exact value re-check: base
    * cells whose rowKey the index maps to `value`'s hash — a SUPERSET of
    * the answer (hash collisions can only add rows). [[lookup]] layers
    * the equality back on; [[graft.plans.ValueIndexRewrite]] splices this
    * plan and re-applies the ORIGINAL filter condition on top, which both
    * restores exactness and keeps the spliced subtree from re-matching
    * the rewrite pattern (no value-equality filter sits directly over a
    * cellstore scan inside it). */
  def candidateJoin(spark: SparkSession, indexPath: String, basePath: String,
      value: Array[Byte]): DataFrame = {
    val keyExpr = CellTable.bigEndianKey(xxhash64(lit(value)))
    // the family conjunct holds for every index cell, but it stays a
    // Filter over the probe: the key GET is answered inside the scan and
    // leaves none, and Spark inserts the dynamic pruning that turns the
    // base join into GETs only below a join side with a selective Filter
    val candidates = spark.read.format("cellstore").load(indexPath)
      .filter(col("rowKey") === keyExpr && col("family") === Family)
      .select(col("value").as("rowKey")).distinct()
    // graft.noRewrite: this base read IS the probe — the rewrite rule
    // must never re-splice a probe into it (a direct lookup()'s value
    // filter pushes down onto exactly this scan)
    spark.read.format("cellstore").option("graft.noRewrite", "true")
      .load(basePath)
      .join(candidates, "rowKey")
  }

  /** Build-once base store + index for the query adapters. */
  private def ensureStore(spark: SparkSession, sfDir: String): String =
    graft.WorkDirs.once(s"vix_$sfDir") { d =>
      CellTable.fromTable(spark, sfDir, "customer")
        .write.format("cellstore").option("buckets", "4")
        .mode("overwrite").save(s"$d/base")
      build(spark.read.format("cellstore").load(s"$d/base"), s"$d/index")
    }

  private def renderCells(df: DataFrame): DataFrame =
    df.select(
      graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
      col("qualifier").cast("string").as("qualifier"),
      col("ts"),
      col("value").cast("string").as("value"))

  /** Query-pack adapter: index the customer cell store by value, look up
    * the cells holding mktsegment 'BUILDING' — index GET + base GETs,
    * no base scan. */
  def valueLookupQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val base = ensureStore(spark, sfDir)
    renderCells(
      lookup(spark, s"$base/index", s"$base/base", "BUILDING".getBytes("UTF-8")))
  }

  /** Query-pack adapter for [[graft.plans.ValueIndexRewrite]]: the USER
    * query is a plain full-table `value = 'BUILDING'` filter — no index
    * API in sight — and the registered rule swaps in the index probe.
    * Same answer as [[valueLookupQuery]]; the point is the plan. */
  def indexServedQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val base = ensureStore(spark, sfDir)
    graft.plans.ValueIndexRewrite.register(s"$base/base", s"$base/index")
    graft.plans.ValueIndexRewrite.ensureInjected(spark)
    renderCells(
      spark.read.format("cellstore").load(s"$base/base")
        .filter(col("value") === lit("BUILDING".getBytes("UTF-8"))))
  }
}
