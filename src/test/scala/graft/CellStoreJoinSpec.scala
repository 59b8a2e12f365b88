package graft

import graft.model.CellTable
import graft.sources.CellBucketFunction
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Salted cellstore layout + storage-partitioned joins: the DSv2 analogue
  * of BucketedJoinSpec — two same-N stores key-join with ZERO exchange. */
class CellStoreJoinSpec extends AnyFunSuite with SparkTestBase {

  private val cat = "cellspj"
  private lazy val root: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_spj").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.CellStoreCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", dir)

    val cells = CellTable.fromTable(spark, sf001, "customer")
    cells.write.format("cellstore")
      .option("buckets", "4").mode("overwrite").save(s"$dir/cust")
    cells.filter(col("qualifier").cast("string") === "c_mktsegment")
      .withColumn("family", lit("audit"))
      .write.format("cellstore")
      .option("buckets", "4").mode("overwrite").save(s"$dir/audit")
    dir
  }

  private def withSpj[T](body: => T): T = {
    val prevBucketing = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevThreshold = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally {
      prevBucketing.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
      prevThreshold.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    }
  }

  private def executedPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("bucket function tracks Spark's hash partitioning exactly") {
    val n = 7
    val rows = CellTable.fromTable(spark, sf001, "nation")
      .select(col("rowKey"), pmod(hash(col("rowKey")), lit(n)).as("sparkBucket"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(CellBucketFunction.bucketOf(r.getAs[Array[Byte]]("rowKey"), n)
        == r.getInt(1))
    }
  }

  test("salted store round-trips and files carry the bucket id") {
    val dir = root
    val cells = CellTable.fromTable(spark, sf001, "customer")
    val back = spark.table(s"$cat.cust")
      .select("rowKey", "family", "qualifier", "ts", "cellType", "value")
    assert(back.count() == cells.count())
    assert(back.exceptAll(cells).isEmpty && cells.exceptAll(back).isEmpty)
    val files = new java.io.File(s"$dir/cust").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.getName.startsWith("bucket-")))
    assert(new java.io.File(s"$dir/cust/_cellstore_meta.json").exists())
  }

  test("point GET on a salted store plans exactly one bucket partition") {
    val dir = root
    def key(k: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(8).putLong(k).array()
    val get = spark.table(s"$cat.cust").filter(col("rowKey") === lit(key(42L)))
    assert(plannedChunks(get) == 1)
    assert(get.count() == 4) // one cell per non-key customer column
  }

  test("storage-partitioned join: two salted stores join with zero exchange") {
    val dir = root
    withSpj {
      val a = spark.table(s"$cat.cust")
        .filter(col("qualifier").cast("string") === "c_name")
        .select(col("rowKey"), col("value").cast("string").as("name"))
      val b = spark.table(s"$cat.audit")
        .select(col("rowKey"), col("value").cast("string").as("segment"))
      val joined = a.join(b, "rowKey")

      val plan = executedPlan(joined)
      assert(!plan.contains("Exchange"), s"expected a storage-partitioned join, got:\n$plan")
      // the scan's reported (rowKey…) ordering also elides the SMJ sorts
      assert(!plan.contains(" Sort ["),
        s"expected sort-free SMJ over the sorted store, got:\n$plan")

      // correctness: equals the same join done on the raw fixture
      val expected = graft.sources.Tables.load(spark, sf001, "customer").count()
      assert(joined.count() == expected)
      val one = joined.filter(col("rowKey") ===
        lit(java.nio.ByteBuffer.allocate(8).putLong(42L).array())).collect()
      assert(one.length == 1)
    }
  }

  test("aggregation on the salt key needs no exchange either") {
    val dir = root
    withSpj {
      val perKey = spark.table(s"$cat.cust").groupBy("rowKey").count()
      val plan = executedPlan(perKey)
      assert(!plan.contains("Exchange"), s"expected key-grouped aggregation, got:\n$plan")
      assert(perKey.filter(col("count") =!= 4).count() == 0)
    }
  }

  test("runtime In filter empties unmatched buckets, keeps partition values stable") {
    val dir = root
    import org.apache.spark.sql.sources.In
    import graft.sources.{CellBucketFunction, CellStoreBucketPartition, CellStoreScan, CellStoreSource}
    def key(k: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(8).putLong(k).array()

    val scan = new CellStoreScan(s"$dir/cust", Some(4), Array.empty, CellStoreSource.Schema)
    assert(scan.planInputPartitions().length == 4)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](In("rowKey", Array[Any](key(42L), key(7L)))))
    val after = scan.planInputPartitions()
    assert(after.length == 4) // Spark requires unchanged partition values
    val hit = Set(42L, 7L).map(k => CellBucketFunction.bucketOf(key(k), 4))
    after.foreach {
      case p: CellStoreBucketPartition =>
        if (hit.contains(p.bucket)) assert(p.files.nonEmpty)
        else assert(p.files.isEmpty, s"bucket ${p.bucket} should have been emptied")
      case other => fail(s"unexpected partition $other")
    }
  }

  test("runtime filter on a range store drops non-overlapping regions") {
    import org.apache.spark.sql.sources.In
    import graft.sources.{CellStoreScan, CellStoreSource}
    val dir = java.nio.file.Files.createTempDirectory("graft_rtrange").toString
    CellTable.writeRegionLayout(
      CellTable.fromTable(spark, sf001, "customer"), dir, numRegions = 8)
    def key(k: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(8).putLong(k).array()
    val scan = new CellStoreScan(dir, None, Array.empty, CellStoreSource.Schema)
    assert(scan.planInputPartitions().length == 8)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](In("rowKey", Array[Any](key(41L), key(43L)))))
    val after = scan.planInputPartitions().length
    assert(after < 8, s"expected region pruning from runtime keys, got $after")
  }

  test("join against a filtered dim dynamically prunes the store scan") {
    val dir = root
    // selective filter on a REAL source (survives into the optimized plan,
    // so PartitionPruning sees it) -> broadcast join -> runtime In filter
    // handed to the store scan
    val dim = spark.read.parquet(s"$sf001/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(CellTable.bigEndianKey(col("c_custkey")).as("rowKey"))
    val joined = spark.table(s"$cat.cust")
      .filter(col("qualifier").cast("string") === "c_name")
      .join(dim, "rowKey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning") ||
      plan.contains("dynamicpruningexpression"),
      s"expected a runtime filter on the store scan in:\n$plan")
    assert(joined.count() == dim.count())
  }

  test("append to a salted store keeps N and stays joinable") {
    val dir = root
    val extra = CellTable.fromTable(spark, sf001, "customer")
      .filter(col("qualifier").cast("string") === "c_name")
      .withColumn("ts", col("ts") + 1000L)
    extra.write.format("cellstore").mode("append").save(s"$dir/cust")
    val cnt = spark.table(s"$cat.cust").count()
    val base = CellTable.fromTable(spark, sf001, "customer").count()
    assert(cnt == base + extra.count())
    // mismatched bucket count on append is rejected
    val err = intercept[Exception] {
      extra.write.format("cellstore").option("buckets", "8")
        .mode("append").save(s"$dir/cust")
    }
    assert(err.getMessage != null)
  }
}
