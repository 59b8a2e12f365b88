package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

import graft.sources.{CellStoreLocalScan, CellStoreScan}

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.session
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"

  /** The cell-store scans in `df`'s optimized plan: batch `CellStoreScan`s
    * and, for small key-pinned reads, `CellStoreLocalScan`s, which Spark
    * plans as a `LocalTableScan` that shows neither path nor filters. */
  def cellStoreScans(df: DataFrame): Seq[Scan] =
    df.queryExecution.optimizedPlan.collect { case r: DataSourceV2ScanRelation => r.scan }
      .collect {
        case s: CellStoreScan      => s
        case s: CellStoreLocalScan => s
      }

  /** The one cell-store scan in `df`'s optimized plan. */
  def cellStoreScan(df: DataFrame): Scan = {
    val scans = cellStoreScans(df)
    assert(scans.size == 1, s"expected one cell-store scan in:\n${df.queryExecution.optimizedPlan}")
    scans.head
  }

  /** The region chunks or salt buckets the cell-store scan in `df` plans,
    * on either path: what a GET's pruning left, independent of how Spark
    * splits the rows it returns into RDD partitions. */
  def plannedChunks(df: DataFrame): Int = cellStoreScan(df) match {
    case s: CellStoreScan      => s.planInputPartitions().length
    case s: CellStoreLocalScan => s.plan.partitions.length
  }
}
