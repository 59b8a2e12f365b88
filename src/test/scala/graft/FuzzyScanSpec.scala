package graft

import graft.functions.FuzzyKeyMatch
import graft.model.CellTable
import graft.operators.FuzzyScan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** FuzzyRowFilter: fixed-position byte match + derived prefix-range
  * pruning through the cell store's pushed bounds. */
class FuzzyScanSpec extends AnyFunSuite with SparkTestBase {

  private lazy val storePath = {
    val dir = java.nio.file.Files.createTempDirectory("fuzzystore").toString
    val cells = CellTable.fromTable(spark, sf001, "customer")
    CellTable.writeRegionLayout(cells, dir, numRegions = 8)
    dir
  }
  private def store = spark.read.format("cellstore").load(storePath)

  private def key(custkey: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(custkey).array()
  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  test("matches kernel: fixed positions compare, wildcards don't, short keys fail") {
    val pat = b(1, 0, 3); val msk = b(0, 1, 0)
    assert(FuzzyKeyMatch.matches(b(1, 99, 3), pat, msk))
    assert(FuzzyKeyMatch.matches(b(1, 0, 3, 7, 7), pat, msk)) // longer key: prefix positions only
    assert(!FuzzyKeyMatch.matches(b(2, 0, 3), pat, msk))
    assert(!FuzzyKeyMatch.matches(b(1, 0, 4), pat, msk))
    assert(!FuzzyKeyMatch.matches(b(1, 0), pat, msk)) // shorter than the pattern
    // unsigned-byte positions compare as raw bytes
    assert(FuzzyKeyMatch.matches(b(0xFF), b(0xFF), b(0)))
  }

  test("prefixSuccessor: carry, truncation, all-0xFF unbounded") {
    assert(FuzzyScan.prefixSuccessor(b(1, 2)).get.sameElements(b(1, 3)))
    assert(FuzzyScan.prefixSuccessor(b(0, 0xFF)).get.sameElements(b(1)))
    assert(FuzzyScan.prefixSuccessor(b(0xFF, 0xFF)).isEmpty)
    assert(FuzzyScan.fixedPrefixLen(b(0, 0, 1, 0)) == 2)
    assert(FuzzyScan.fixedPrefixLen(b(1, 0)) == 0)
  }

  test("wildcard-prefix pair scans all regions but matches exactly (honest degradation)") {
    // byte 7 fixed to 42, everything before it wildcarded: no prefix range
    val pairs = Seq((key(42L), b(1, 1, 1, 1, 1, 1, 1, 0)))
    val scan = FuzzyScan.fuzzyRowScan(store, pairs)
    assert(scan.rdd.getNumPartitions == 8) // nothing prunable
    val got = scan.select(col("rowKey")).distinct().collect().map(_.getAs[Array[Byte]](0))
    // sf0.001 custkeys stay below 256, so %256==42 pins exactly custkey 42
    assert(got.length == 1 && got.head.sameElements(key(42L)))
  }

  test("all-fixed mask is a pushed point GET: one partition") {
    val pairs = Seq((key(42L), b(0, 0, 0, 0, 0, 0, 0, 0)))
    val scan = FuzzyScan.fuzzyRowScan(store, pairs)
    assert(plannedChunks(scan) <= 1,
      s"exact-prefix fuzzy pair must prune to the key's region, got ${plannedChunks(scan)}")
    assert(scan.count() == 4) // 4 non-key customer columns
  }

  test("pair disjunction prunes the gap between the two prefix ranges") {
    val pairs = Seq(
      (key(20L), b(0, 0, 0, 0, 0, 0, 0, 0)),
      (key(130L), b(0, 0, 0, 0, 0, 0, 0, 0)))
    val scan = FuzzyScan.fuzzyRowScan(store, pairs)
    assert(scan.count() == 8)
    val envelope = store
      .filter(col("rowKey") >= lit(key(20L)) && col("rowKey") <= lit(key(130L)))
      .rdd.getNumPartitions
    assert(scan.rdd.getNumPartitions < envelope,
      s"fuzzy range disjunction must beat the [20,130] envelope: " +
        s"${scan.rdd.getNumPartitions} vs $envelope")
  }

  test("fuzzy scan equals the brute-force residual evaluation") {
    // byte 6 wildcarded, byte 7 fixed: custkey % 256 == 10 under 2^16
    val pairs = Seq((key(10L), b(0, 0, 0, 0, 0, 0, 1, 0)))
    val viaScan = FuzzyScan.fuzzyRowScan(store, pairs)
    val expectedKeys = spark.read.parquet(storePath)
      .select("rowKey").distinct().collect().map(_.getAs[Array[Byte]](0))
      .filter(k => FuzzyKeyMatch.matches(k, pairs.head._1, pairs.head._2))
    assert(viaScan.select("rowKey").distinct().count() == expectedKeys.length)
    assert(expectedKeys.nonEmpty)
  }

  test("fuzzy scan over a SALTED store stays exact (salt never touches rowKey bytes)") {
    val dir = java.nio.file.Files.createTempDirectory("fuzzysalt").toString + "/s"
    CellTable.fromTable(spark, sf001, "customer")
      .write.format("cellstore").option("buckets", "4").mode("overwrite").save(dir)
    val salted = spark.read.format("cellstore").load(dir)
    // two exact-prefix pairs, OR semantics — bucket files' footer key
    // ranges still serve the pushed range disjunction
    val pairs = Seq(
      (key(20L), b(0, 0, 0, 0, 0, 0, 0, 0)),
      (key(130L), b(0, 0, 0, 0, 0, 0, 0, 0)))
    val got = FuzzyScan.fuzzyRowScan(salted, pairs)
      .select("rowKey").distinct().collect().map(_.getAs[Array[Byte]](0))
    assert(got.length == 2 &&
      got.exists(_.sameElements(key(20L))) && got.exists(_.sameElements(key(130L))))
  }

  test("SQL surface: fuzzy_key_match registered and callable") {
    graft.functions.GraftFunctionRegistry.registerAll(spark)
    store.createOrReplaceTempView("fuzzy_cells_v")
    val n = spark.sql(
      """SELECT count(*) AS n FROM fuzzy_cells_v
        |WHERE fuzzy_key_match(rowKey,
        |        unhex('000000000000002A'), unhex('0000000000000000'))""".stripMargin)
      .collect().head.getAs[Long]("n")
    assert(n == 4)
    // null key evaluates to null, not a crash
    val r = spark.sql(
      """SELECT fuzzy_key_match(CAST(NULL AS BINARY), unhex('00'), unhex('00')) AS m""")
      .collect().head
    assert(r.isNullAt(0))
  }
}
