package graft

import graft.model.CellTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Qualifier byte-range pushdown (HBase ColumnRangeFilter at storage
  * granularity): row-group pruning on wide-row stores, honest no-op on
  * tall stores, residual correctness everywhere. */
class QualifierPruningSpec extends AnyFunSuite with SparkTestBase {

  private def qual(i: Int): Array[Byte] = f"q$i%05d".getBytes("UTF-8")

  /** One file, 3 rowKeys x 20000 qualifiers each, many small row groups —
    * each group holds one slice of one row's columns, so its qualifier
    * stats are tight. */
  private val QualsPerRow = 20000
  private lazy val widePath: String = {
    val dir = java.nio.file.Files.createTempDirectory("qualprune").toString
    val rows = spark.range(3L * QualsPerRow).select(
      (col("id") / QualsPerRow + 1).cast("long").as("id"),
      pmod(col("id"), lit(QualsPerRow)).cast("int").as("q"))
    val cells = rows.select(
      CellTable.bigEndianKey(col("id")).as("rowKey"),
      lit("wide").as("family"),
      concat(lit("q"), lpad(col("q").cast("string"), 5, "0"))
        .cast("binary").as("qualifier"),
      lit(CellTable.BaseTs).as("ts"),
      lit("Put").as("cellType"),
      concat(lit("v"), col("q").cast("string")).cast("binary").as("value"))
    val hconf = spark.sparkContext.hadoopConfiguration
    val prev = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 8192)
    try cells.coalesce(1)
      .sortWithinPartitions("rowKey", "family", "qualifier", "ts")
      .write.mode("overwrite").parquet(dir)
    finally {
      if (prev == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", prev)
    }
    dir
  }

  /** The wide store, read in chunks of at most 16 KiB while a test runs
    * under [[withMaxPartitionBytes]]. */
  private def wide = spark.read.format("cellstore").load(widePath)

  test("qualifier range prunes row-group chunks on a wide-row store") {
    withMaxPartitionBytes(16384) {
      val full = wide.rdd.getNumPartitions
      assert(full > 4, s"fixture must split into many chunks, got $full")
      val ranged = wide.filter(
        col("qualifier") >= lit(qual(100)) && col("qualifier") < lit(qual(200)))
      assert(ranged.rdd.getNumPartitions < full,
        s"qualifier bounds must prune chunks: ${ranged.rdd.getNumPartitions} vs $full")
      assert(ranged.count() == 3L * 100)
      // residual exactness vs the plain parquet read
      val expected = spark.read.parquet(widePath).filter(
        col("qualifier") >= lit(qual(100)) && col("qualifier") < lit(qual(200)))
      assert(ranged.exceptAll(expected).isEmpty && expected.exceptAll(ranged).isEmpty)
    }
  }

  test("single-qualifier GET across all rows touches a fraction of the chunks") {
    withMaxPartitionBytes(16384) {
      val one = wide.filter(col("qualifier") === lit(qual(1500)))
      assert(one.count() == 3)
      assert(one.rdd.getNumPartitions <= wide.rdd.getNumPartitions / 2,
        s"${one.rdd.getNumPartitions} of ${wide.rdd.getNumPartitions} chunks for one column")
    }
  }

  test("qualifier bounds compose with rowKey bounds (both dimensions prune)") {
    withMaxPartitionBytes(16384) {
      val both = wide.filter(
        col("rowKey") === lit(java.nio.ByteBuffer.allocate(8).putLong(2L).array()) &&
        col("qualifier") >= lit(qual(QualsPerRow - 100)))
      assert(both.count() == 100)
      val keyOnly = wide.filter(
        col("rowKey") === lit(java.nio.ByteBuffer.allocate(8).putLong(2L).array()))
      assert(both.rdd.getNumPartitions < keyOnly.rdd.getNumPartitions,
        s"${both.rdd.getNumPartitions} vs key-only ${keyOnly.rdd.getNumPartitions}")
    }
  }

  test("tall store: qualifier stats span every group — no pruning, rows exact") {
    val dir = java.nio.file.Files.createTempDirectory("qualprune_tall").toString
    val cells = CellTable.fromTable(spark, sf001, "customer")
    CellTable.writeRegionLayout(cells, dir, numRegions = 4)
    val store = spark.read.format("cellstore").load(dir)
    val nameOnly = store.filter(
      col("qualifier") === lit("c_name".getBytes("UTF-8")))
    assert(nameOnly.rdd.getNumPartitions == 4) // honest no-op
    assert(nameOnly.count() == cells.filter(
      col("qualifier").cast("string") === "c_name").count())
  }
}
