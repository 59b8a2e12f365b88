package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.BytesBinaryCodec
import graft.sources.{CellStoreSource, HadoopConf}

/**
 * Store inspection — the `hbase hbck` / region-status analogue for the
 * cell store: one row per region/bucket file with its row count, size,
 * and key range (rendered in HBase-shell binary-string notation), plus
 * the layout header. Reads FOOTERS only — no data pages — so it is safe
 * to run against a store of any size; the output is a DataFrame, so
 * operational checks ("any region over 10 GB?", "bucket row-count skew?")
 * are ordinary queries.
 */
object StoreStats {

  final case class FileStat(
      file: String,
      bucket: Option[Int],
      rows: Long,
      bytes: Long,
      rowGroups: Int,
      minKey: Option[String],
      maxKey: Option[String])

  /** One row per store file, footer metadata only. A file whose footer
    * lacks key statistics for some row group reports null keys: it may hold
    * any key ([[CellStoreSource.keyRangeOf]]). */
  def describe(spark: SparkSession, path: String): DataFrame = {
    val dir = new Path(path)
    val fs = HadoopConf.fs(dir)
    val stats = CellStoreSource.dataFiles(fs.listStatus(dir).toSeq).map { st =>
      val blocks = CellStoreSource.footerBlocks(st.getPath)
      val range = CellStoreSource.keyRangeOf(blocks)
      FileStat(
        file = st.getPath.getName,
        bucket = CellStoreSource.bucketIdOf(st.getPath.getName),
        rows = blocks.map(_.rows).sum,
        bytes = st.getLen,
        rowGroups = blocks.length,
        minKey = range.map(r => BytesBinaryCodec.encode(r._1)),
        maxKey = range.map(r => BytesBinaryCodec.encode(r._2)))
    }
    import spark.implicits._
    stats.toDF()
  }

  /** Layout summary: (layout, buckets, files, rows, bytes). */
  def summary(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val buckets = CellStoreSource.readBuckets(new Path(path))
    describe(spark, path).agg(
      lit(buckets.map(_ => "salted").getOrElse("range")).as("layout"),
      lit(buckets.getOrElse(0)).as("buckets"),
      count(lit(1)).as("files"),
      sum(col("rows")).as("rows"),
      sum(col("bytes")).as("bytes"))
  }

  /**
   * The hbase-tools CellCounter analogue over a cell frame: per (family,
   * qualifier) — total cells, distinct rows, and the deepest version
   * stack. Answers the operational questions CellCounter's MR job prints
   * (cells per CF/qualifier, version depth) as one DataFrame.
   *
   * Shape: one shuffle on (family, qualifier, rowKey) with map-side
   * partial counts, then a second aggregation over the per-coordinate
   * version counts — already at most one row per coordinate, so the
   * second exchange moves the small frame. No distinct-count blowup:
   * `n_rows` falls out of counting the already-unique coordinates.
   */
  def cellCounts(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    cells
      .groupBy(col("family"), col("qualifier"), col("rowKey"))
      .agg(count(lit(1)).as("_versions"))
      .groupBy(col("family"), col("qualifier"))
      .agg(
        sum(col("_versions")).as("n_cells"),
        count(lit(1)).as("n_rows"),
        max(col("_versions")).as("max_versions"))
  }
}
