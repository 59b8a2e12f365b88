package graft.operators

import graft.functions.BytesBinaryCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The CopyRow transform (SURVEY.md §7.2, reference `CopyRow.java`): fetch one
 * row's cells by row key (given in HBase-shell binary-string notation),
 * optionally rewrite every cell's timestamp, and hand the rebuilt cells to a
 * destination writer.
 *
 * Spark-first shape: `filter(rowKey = k) → withColumn(ts)` — a two-node
 * logical plan. On a cell store the point filter is pushed into the scan:
 * bloom, region and row-group pruning leave the key's row groups, and when
 * those are small the source reads them on the driver as a DSv2 `LocalScan`
 * ([[graft.sources.CellStoreLocalScan]]), so the read side is one GET with
 * no Spark job of its own, like the reference's single `table.get`
 * (`CopyRow.java:109-111`). The timestamp rewrite (T1) is one projection;
 * cell immutability is native so the reference's `DEEP_COPY` has no analogue.
 */
object CopyRow {

  /**
   * Logical plan for the copy: the source row's cells, timestamps rewritten
   * when `overrideTs`. The OPERATOR requires an explicit ts so plans stay
   * deterministic; the reference's wall-clock default
   * (`CopyRow.java:63-64,76-79` — `currentTimeMillis` when
   * `--timestampToUse` is omitted) lives in the CLI layer
   * (`cli/CopyRowMain.scala`), which supplies `System.currentTimeMillis()`
   * exactly like the reference tool.
   */
  def plan(
      cells: DataFrame,
      rowKeyByteString: String,
      overrideTs: Boolean,
      tsToUse: Long): DataFrame =
    withTs(get(cells, rowKeyByteString), overrideTs, tsToUse)

  private def get(cells: DataFrame, rowKeyByteString: String): DataFrame =
    cells.filter(col("rowKey") === lit(BytesBinaryCodec.decode(rowKeyByteString)))

  private def withTs(cells: DataFrame, overrideTs: Boolean, tsToUse: Long): DataFrame =
    if (overrideTs) cells.withColumn("ts", lit(tsToUse)) else cells

  /**
   * Execute the copy into a destination append. Mirrors the reference CLI
   * behaviors: one read of the row (`CopyRow.java:109-111`), the empty-row
   * guard (T3, `CopyRow.java:114-117` — warn, write nothing) and the
   * per-cell Put loop (K1) — except ours batches the write by partition
   * instead of one RPC per cell.
   *
   * The row's cells are collected to the driver once, as the reference's
   * `table.get` holds the row's `Result` client-side: on a cell store that
   * collect is a bare GET, the source's local scan, and runs no Spark job
   * (the ts rewrite is applied after it: a projection over the scan would
   * make the collect a job). The guard checks the collected cells, and
   * `write` receives a local DataFrame of them, so the read is never
   * re-planned or re-split into tasks.
   *
   * @return number of cells copied (0 ⇒ the T3 guard fired)
   */
  def run(
      cells: DataFrame,
      rowKeyByteString: String,
      overrideTs: Boolean,
      tsToUse: Long)(write: DataFrame => Unit): Long = {
    val selected = get(cells, rowKeyByteString)
    val row = selected.collect()
    if (row.isEmpty) {
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"row '$rowKeyByteString' has no cells in source; nothing copied")
      0L
    } else {
      val local = selected.sparkSession
        .createDataFrame(java.util.Arrays.asList(row: _*), selected.schema)
      write(withTs(local, overrideTs, tsToUse))
      row.length.toLong
    }
  }
}
