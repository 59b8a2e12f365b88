package graft

import java.nio.file.{Files, StandardCopyOption}

import graft.model.CellTable
import graft.operators.{Compaction, StoreDoctor}
import graft.sources.{CellStoreAggScan, CellStoreCompaction, CellStoreGroupByScan, CellStoreLocalScan, CellStoreScan}
import graft.streaming.CellStoreIngest
import org.apache.parquet.hadoop.metadata.CompressionCodecName.{SNAPPY, UNCOMPRESSED}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every cell-store writer compresses with snappy, and a store that holds
  * uncompressed files (written before the writer compressed) beside snappy
  * ones reads and compacts exactly as its files read through Spark's own
  * parquet source. */
class CellStoreCodecSpec extends AnyFunSuite with SparkTestBase {

  private def key(k: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8).putLong(k).array()

  private def assertSnappy(dir: String): Unit = {
    val files = dataFiles(dir)
    assert(files.nonEmpty, s"no data files in $dir")
    files.foreach(f => assert(codecsOf(f) == Set(SNAPPY), s"${f.getName}: ${codecsOf(f)}"))
  }

  private def hexOf(b: Array[Byte]): String =
    if (b == null) "null" else b.map(x => f"${x & 0xff}%02x").mkString

  /** Rows as a sorted multiset of canonical strings. */
  private def multiset(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => hexOf(b)
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq

  private def cells: DataFrame = {
    val base = CellTable.fromTable(spark, sf001, "customer")
    val k = CellTable.keyToLong(col("rowKey"))
    CellTable.withDeleteMarkers(CellTable.withExtraVersions(base, k % 3 === 0, n = 2),
      k % 7 === 0, lit(CellTable.BaseTs + 1500L))
  }

  /** Newer versions of every fourth key, for a snappy append. */
  private def newer: DataFrame =
    CellTable.fromTable(spark, sf001, "customer")
      .filter(CellTable.keyToLong(col("rowKey")) % 4 === 0)
      .withColumn("ts", col("ts") + 3000L)

  /** Rewrite a store's data files in place, uncompressed, with the same
    * names, rows and row order: the files the store's writer produced
    * before it compressed. Their sidecars stay valid (the keys are unchanged). */
  private def decompressAll(dir: String): Unit = dataFiles(dir).foreach { f =>
    val tmp = Files.createTempDirectory("cellstore_recode").toString + "/out"
    spark.read.parquet(f.toString).coalesce(1)
      .sortWithinPartitions("rowKey", "family", "qualifier", "ts")
      .write.option("compression", "none").parquet(tmp)
    Files.move(dataFiles(tmp).head.toPath, f.toPath,
      StandardCopyOption.REPLACE_EXISTING)
    // the local filesystem's checksum of the replaced file no longer matches
    Files.deleteIfExists(f.toPath.resolveSibling(s".${f.getName}.crc"))
    assert(codecsOf(f) == Set(UNCOMPRESSED))
  }

  /** Uncompressed base files (range or salted), then a snappy append. */
  private def mixedStore(salted: Boolean): String = {
    val dir = Files.createTempDirectory("cellstore_mixed").toString + "/s"
    val layout = if (salted) Map("buckets" -> "4") else Map("numRegions" -> "4")
    cells.write.format("cellstore").options(layout).mode("overwrite").save(dir)
    decompressAll(dir)
    val before = dataFiles(dir).toSet
    newer.write.format("cellstore").options(layout).mode("append").save(dir)
    val appended = dataFiles(dir).filterNot(before)
    assert(appended.nonEmpty && appended.forall(f => codecsOf(f) == Set(SNAPPY)))
    dir
  }

  private def pushedScan(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect { case r: DataSourceV2ScanRelation => r.scan }

  /** A local GET, a batch range scan, a grouped and a footer aggregate over
    * the store equal the same queries over its files read as plain parquet. */
  private def checkReads(dir: String): Unit = {
    val store = spark.read.format("cellstore").load(dir)
    val raw = spark.read.parquet(dir)

    val get = (df: DataFrame) => df.filter(col("rowKey") === lit(key(12L)))
    assert(cellStoreScan(get(store)).isInstanceOf[CellStoreLocalScan])
    assert(multiset(get(store)).nonEmpty)
    assert(multiset(get(store)) == multiset(get(raw)))

    val range = (df: DataFrame) =>
      df.filter(col("rowKey") >= lit(key(40L)) && col("rowKey") < lit(key(90L)))
    assert(cellStoreScan(range(store)).isInstanceOf[CellStoreScan])
    assert(multiset(range(store)) == multiset(range(raw)))

    // a salted store declines a rowKey grouping (its buckets co-locate it)
    val grouped = (df: DataFrame) => df.groupBy("qualifier")
      .agg(count(lit(1)).as("n"), min(col("ts")).as("lo"), max(col("ts")).as("hi"))
    assert(pushedScan(grouped(store)).exists(_.isInstanceOf[CellStoreGroupByScan]))
    assert(multiset(grouped(store)) == multiset(grouped(raw)))

    val footer = (df: DataFrame) =>
      df.agg(count(lit(1)).as("n"), min(col("rowKey")).as("lo"), max(col("rowKey")).as("hi"))
    assert(pushedScan(footer(store)).exists(_.isInstanceOf[CellStoreAggScan]))
    assert(multiset(footer(store)) == multiset(footer(raw)))
  }

  test("a mixed-codec range store reads as its files do and compacts to snappy files") {
    val dir = mixedStore(salted = false)
    checkReads(dir)
    val expected = multiset(Compaction.survivors(spark.read.parquet(dir), 1, Long.MinValue)
      .select("rowKey", "family", "qualifier", "ts", "cellType", "value"))
    Compaction.compactStore(spark, dir, maxVersions = 1)
    assertSnappy(dir)
    assert(multiset(spark.read.format("cellstore").load(dir)
      .select("rowKey", "family", "qualifier", "ts", "cellType", "value")) == expected)
  }

  test("a mixed-codec salted store reads as its files do") {
    checkReads(mixedStore(salted = true))
  }

  test("every cell-store writer writes snappy column chunks") {
    val root = Files.createTempDirectory("cellstore_codec").toString

    // writeRegionLayout: the cell-store writer, one sidecar per region, doctor clean
    val layout = s"$root/layout"
    CellTable.writeRegionLayout(cells, layout, numRegions = 4)
    assertSnappy(layout)
    assert(dataFiles(layout).size == 4)
    dataFiles(layout).foreach(f =>
      assert(new java.io.File(s"$layout/.${f.getName}.bloom").exists(), s"no sidecar for $f"))
    val verdicts = StoreDoctor.diagnose(spark, layout).collect()
    assert(verdicts.forall(_.getAs[String]("status") == "OK"),
      verdicts.map(r => s"${r.getAs[String]("check")}=${r.getAs[String]("status")}").mkString(","))

    // a DSv2 range append and a salted write
    newer.write.format("cellstore").option("numRegions", "2").mode("append").save(layout)
    assertSnappy(layout)
    val salted = s"$root/salted"
    cells.write.format("cellstore").option("buckets", "4").mode("overwrite").save(salted)
    assertSnappy(salted)

    // a merge whose bucket holds more files than one round reads: it spills
    val spilling = s"$root/spilling"
    val n = CellStoreCompaction.MaxFanIn + 2
    val deal = pmod(xxhash64(col("rowKey"), col("qualifier"), col("ts")), lit(n.toLong))
    (0 until n).foreach { i =>
      cells.filter(deal === i).write.format("cellstore").option("buckets", "1")
        .mode(if (i == 0) "overwrite" else "append").save(spilling)
    }
    assert(dataFiles(spilling).size > CellStoreCompaction.MaxFanIn)
    Compaction.compactStore(spark, spilling, maxVersions = 1)
    assert(dataFiles(spilling).size == 1)
    assertSnappy(spilling)

    // an ingest micro-batch
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val ingest = s"$root/ingest"
    val q = CellStoreIngest.start(
      CellTable.toCells(input.toDF().toDF("doc_id", "text"), Seq("doc_id"), "documents",
        lit(CellTable.BaseTs)),
      ingest, buckets = 2, checkpoint = s"$root/ckpt")
    try {
      input.addData((1L, "aaa"), (2L, "bbb"), (3L, "ccc"))
      q.processAllAvailable()
    } finally q.stop()
    assertSnappy(ingest)
  }
}
