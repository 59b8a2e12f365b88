package graft

import scala.jdk.CollectionConverters._

import graft.model.CellTable
import graft.sources.{CellBloom, CellStoreLocalScan, CellStoreScan}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 cell-store source: correctness vs the plain parquet read, region
  * pruning for point/range key predicates, and column pruning. */
class CellStoreSourceSpec extends AnyFunSuite with SparkTestBase {

  private lazy val storePath = {
    val dir = java.nio.file.Files.createTempDirectory("cellstore").toString
    val cells = CellTable.fromTable(spark, sf001, "customer")
    CellTable.writeRegionLayout(cells, dir, numRegions = 8)
    dir
  }

  private def store = spark.read.format("cellstore").load(storePath)

  private def key(custkey: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(custkey).array()

  test("full scan equals the plain parquet read, one partition per region") {
    val viaSource = store.select("rowKey", "family", "qualifier", "ts", "cellType", "value")
    val viaParquet = spark.read.parquet(storePath)
      .select("rowKey", "family", "qualifier", "ts", "cellType", "value")
    assert(viaSource.count() == viaParquet.count())
    assert(viaSource.exceptAll(viaParquet).isEmpty && viaParquet.exceptAll(viaSource).isEmpty)
    assert(viaSource.rdd.getNumPartitions == 8)
  }

  test("store stats describe files from footers only; summary reads the layout") {
    val cells = CellTable.fromTable(spark, sf001, "customer")
    val stats = graft.operators.StoreStats.describe(spark, storePath).collect()
    assert(stats.length == 8)
    assert(stats.map(_.getAs[Long]("rows")).sum == cells.count())
    assert(stats.forall(r => !r.isNullAt(r.fieldIndex("minKey"))))
    val sum = graft.operators.StoreStats.summary(spark, storePath).collect().head
    assert(sum.getAs[String]("layout") == "range" && sum.getAs[Long]("files") == 8L)

    val saltedDir = java.nio.file.Files.createTempDirectory("stats_salt").toString + "/s"
    cells.write.format("cellstore").option("buckets", "4").mode("overwrite").save(saltedDir)
    val ssum = graft.operators.StoreStats.summary(spark, saltedDir).collect().head
    assert(ssum.getAs[String]("layout") == "salted" && ssum.getAs[Int]("buckets") == 4)
    val sstats = graft.operators.StoreStats.describe(spark, saltedDir).collect()
    assert(sstats.forall(r => !r.isNullAt(r.fieldIndex("bucket"))))
  }

  test("limit pushdown: readers stop early, results stay correct") {
    val limited = store.limit(3)
    val plan = limited.queryExecution.executedPlan.toString
    assert(plan.contains("limit=3"), s"expected pushed limit in:\n$plan")
    assert(limited.collect().length == 3)
    // limit larger than the store is a no-op
    assert(store.limit(1000000).count() == store.count())
  }

  test("whole-store COUNT/MIN/MAX answer from footers only (agg pushdown)") {
    val cells = CellTable.fromTable(spark, sf001, "customer")
    // count(*) plans the footer-only scan — one partition, no page IO
    val cnt = store.groupBy().count()
    val cntPlan = cnt.queryExecution.executedPlan.toString
    assert(cntPlan.contains("CellStoreAggScan"), s"expected pushed count in:\n$cntPlan")
    assert(cnt.collect().head.getLong(0) == cells.count())
    // min/max of the row key come from key statistics
    val mm = store.agg(min(col("rowKey")).as("lo"), max(col("rowKey")).as("hi"))
    val mmPlan = mm.queryExecution.executedPlan.toString
    assert(mmPlan.contains("CellStoreAggScan"), s"expected pushed min/max in:\n$mmPlan")
    val row = mm.collect().head
    assert(row.getAs[Array[Byte]]("lo").sameElements(key(0L)))
    // a FILTERED count must NOT push (filters stay residual) and stays right
    val filtered = store.filter(col("rowKey") >= lit(key(100L)))
    val fPlan = filtered.groupBy().count().queryExecution.executedPlan.toString
    assert(!fPlan.contains("CellStoreAggScan"), s"filtered agg must not push:\n$fPlan")
    assert(filtered.count() == cells.filter(col("rowKey") >= lit(key(100L))).count())
  }

  test("scan is vectorized: batches decode columnar, count-only scans too") {
    val plan = store.select("rowKey", "ts").queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"expected a columnar scan in:\n$plan")
    // values survive the vectorized decode (binary + string + long columns)
    val row = store.filter(col("rowKey") === lit(key(7L)))
      .select(col("qualifier").cast("string"), col("ts")).collect()
    assert(row.length == 4 && row.forall(_.getLong(1) == CellTable.BaseTs))
    // a count over a union of two reads is not one the footer aggregate
    // answers, so each read reaches the scan with no columns and decodes
    // zero-column batches
    val unioned = store.union(store).groupBy().count()
    val expected = 2 * spark.read.parquet(storePath).count()
    assert(expected > 0 && unioned.collect().head.getLong(0) == expected)
    // the adaptive plan inserts its columnar transitions per stage: read the
    // final plan
    val unionPlan = unioned.queryExecution.executedPlan.toString
    assert(unionPlan.contains("CellStoreScan") && unionPlan.contains("ColumnarToRow") &&
      !unionPlan.contains("CellStoreAggScan"),
      s"expected a columnar count-only scan in:\n$unionPlan")
  }

  test("a large region file splits into row-group-aligned chunk partitions") {
    val dir = java.nio.file.Files.createTempDirectory("cellstore_split").toString
    val cells = CellTable.fromTable(spark, sf01, "customer")
    // ONE region file, forced into many small row groups
    val hconf = spark.sparkContext.hadoopConfiguration
    val prevBlock = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 16384)
    try cells.coalesce(1)
      .sortWithinPartitions("rowKey", "family", "qualifier", "ts")
      .write.mode("overwrite").parquet(dir)
    finally {
      if (prevBlock == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", prevBlock)
    }
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1)
    val footer = graft.sources.HadoopConf.openParquet(
      new org.apache.hadoop.fs.Path(files.head.getPath))
    val nGroups = try footer.getRowGroups.size() finally footer.close()
    assert(nGroups > 1, s"test setup needs a multi-row-group file, got $nGroups")

    val split = spark.read.format("cellstore")
      .option("splitBytes", "32768").load(dir)
    assert(split.rdd.getNumPartitions > 1,
      s"expected chunked partitions, got ${split.rdd.getNumPartitions}")
    // identical content to the unsplit read, and GET pruning still works
    val whole = spark.read.format("cellstore").load(dir)
    assert(split.count() == cells.count())
    assert(split.exceptAll(whole).isEmpty && whole.exceptAll(split).isEmpty)
    val get = split.filter(col("rowKey") === lit(key(42L)))
    assert(get.count() == 4)
    assert(plannedChunks(get) < plannedChunks(split),
      "key range should prune chunks")
  }

  test("point GET prunes to a single region partition") {
    val get = store.filter(col("rowKey") === lit(key(42L)))
    assert(plannedChunks(get) == 1)
    val rows = get.collect()
    assert(rows.length == 4) // one cell per non-key customer column
    assert(rows.forall(_.getAs[Array[Byte]]("rowKey").sameElements(key(42L))))
  }

  test("key-range scan reads only overlapping regions and the right rows") {
    val lo = key(10L)
    val hi = key(60L)
    val scan = store.filter(col("rowKey") >= lit(lo) && col("rowKey") < lit(hi))
    val expected = spark.read.parquet(storePath)
      .filter(col("rowKey") >= lit(lo) && col("rowKey") < lit(hi))
    assert(scan.count() == expected.count())
    assert(scan.count() == 50 * 4)
    val pruned = scan.rdd.getNumPartitions
    assert(pruned >= 1 && pruned < 8, s"expected pruning, got $pruned partitions")
  }

  test("multi-range scan (Or of key ranges) prunes the gap between the ranges") {
    def range(lo: Long, hi: Long) =
      col("rowKey") >= lit(key(lo)) && col("rowKey") < lit(key(hi))
    val multi = store.filter(range(10L, 30L) || range(120L, 140L))
    assert(multi.count() == 40 * 4)
    val expected = spark.read.parquet(storePath)
      .filter(range(10L, 30L) || range(120L, 140L))
    assert(multi.exceptAll(expected).isEmpty && expected.exceptAll(multi).isEmpty)
    // the bounds DISJUNCTION skips the gap regions a single conjunctive
    // [10, 140) envelope would read
    val prunedMulti = multi.rdd.getNumPartitions
    val envelope = store.filter(range(10L, 140L)).rdd.getNumPartitions
    assert(prunedMulti < envelope,
      s"Or pruning must beat the envelope: $prunedMulti vs $envelope partitions")
    // an Or with a non-prunable branch cannot prune (that branch could
    // match anywhere) — full scan, rows still correct via residuals
    val opaque = store.filter(range(10L, 30L) ||
      col("value") === lit("BUILDING".getBytes("UTF-8")))
    assert(opaque.rdd.getNumPartitions == 8)
  }

  test("impossible range plans zero partitions") {
    val none = store.filter(col("rowKey") === lit(Array.fill[Byte](8)(-1)))
    assert(plannedChunks(none) == 0)
    assert(none.count() == 0)
  }

  test("column pruning: key-only scan and projected reads are correct") {
    val keysOnly = store.select("rowKey").distinct()
    assert(keysOnly.count() == spark.read.parquet(s"$sf001/customer.parquet").count())
    val proj = store.select("rowKey", "ts").filter(col("rowKey") === lit(key(7L)))
    val rows = proj.collect()
    assert(rows.length == 4 && rows.forall(_.getLong(1) == CellTable.BaseTs))
    // the pruned columns must reach the source
    assert(cellStoreScan(proj).readSchema().fieldNames.toSeq == Seq("rowKey", "ts"),
      cellStoreScan(proj).description())
  }

  test("DSv2 write: planner-enforced region layout round-trips and prunes") {
    val dir = java.nio.file.Files.createTempDirectory("cellstore_w").toString
    val cells = CellTable.fromTable(spark, sf001, "customer")
    // the connector declares ordered distribution on rowKey — no manual
    // repartitionByRange/sortWithinPartitions on the caller side
    cells.write.format("cellstore")
      .option("numRegions", "4").mode("append").save(dir)

    val back = spark.read.format("cellstore").load(dir)
    assert(back.count() == cells.count())
    assert(back.rdd.getNumPartitions == 4)
    // region pruning works on the planner-produced layout too
    val get = back.filter(col("rowKey") === lit(key(42L)))
    assert(plannedChunks(get) == 1)
    assert(get.count() == 4)

    // overwrite replaces the store content
    cells.filter(col("rowKey") === lit(key(7L)))
      .write.format("cellstore").mode("overwrite").save(dir)
    val after = spark.read.format("cellstore").load(dir)
    assert(after.count() == 4)
    assert(after.collect().forall(_.getAs[Array[Byte]]("rowKey").sameElements(key(7L))))
  }

  /** A single-file store with many small row groups where ts (and family)
    * correlate with the rowKey sort order — the time-ordered-ingest shape
    * where version/time-range pruning actually bites. */
  private def timeCorrelatedStore(famSplit: Boolean): String = {
    val dir = java.nio.file.Files.createTempDirectory("cellstore_ts").toString
    val k = CellTable.keyToLong(col("rowKey"))
    var cells = CellTable.fromTable(spark, sf01, "customer")
      .withColumn("ts", lit(CellTable.BaseTs) + k * 1000L)
    if (famSplit)
      cells = cells.withColumn("family",
        when(k < 750L, "fam_a").otherwise("fam_b"))
    val hconf = spark.sparkContext.hadoopConfiguration
    val prevBlock = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 16384)
    try cells.coalesce(1)
      .sortWithinPartitions("rowKey", "family", "qualifier", "ts")
      .write.mode("overwrite").parquet(dir)
    finally {
      if (prevBlock == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", prevBlock)
    }
    dir
  }

  test("ts-range pushdown skips row groups outside the time interval") {
    val dir = timeCorrelatedStore(famSplit = false)
    val full = spark.read.format("cellstore").option("splitBytes", "32768").load(dir)
    val hi = CellTable.BaseTs + 100000L // keys <= 100 of 0..1499
    val scan = full.filter(col("ts") <= lit(hi))
    // the ts bound reaches the scan and prunes row-group chunks
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("LessThanOrEqual(ts"), s"expected pushed ts bound in:\n$plan")
    assert(full.rdd.getNumPartitions > 1)
    assert(scan.rdd.getNumPartitions < full.rdd.getNumPartitions,
      s"ts filter should prune chunks: ${scan.rdd.getNumPartitions} vs ${full.rdd.getNumPartitions}")
    // and the result is exactly the plain parquet answer
    val expected = spark.read.parquet(dir).filter(col("ts") <= lit(hi))
    assert(scan.count() == expected.count() && scan.count() > 0)
    assert(scan.exceptAll(expected).isEmpty && expected.exceptAll(scan).isEmpty)
    // a ts interval before all data plans zero partitions
    val none = full.filter(col("ts") < lit(CellTable.BaseTs))
    assert(none.rdd.getNumPartitions == 0 && none.count() == 0)
  }

  test("family pushdown skips row groups of other families") {
    val dir = timeCorrelatedStore(famSplit = true)
    val full = spark.read.format("cellstore").option("splitBytes", "32768").load(dir)
    val scan = full.filter(col("family") === "fam_b")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(family,fam_b)"), s"expected pushed family in:\n$plan")
    assert(scan.rdd.getNumPartitions < full.rdd.getNumPartitions,
      s"family filter should prune chunks: ${scan.rdd.getNumPartitions} vs ${full.rdd.getNumPartitions}")
    val expected = spark.read.parquet(dir).filter(col("family") === "fam_b")
    assert(scan.count() == expected.count() && scan.count() > 0)
    // IN over families prunes too, and membership stays exact (residual)
    val in = full.filter(col("family").isin("fam_a", "no_such"))
    assert(in.count() == spark.read.parquet(dir).filter(col("family") === "fam_a").count())
    assert(in.rdd.getNumPartitions < full.rdd.getNumPartitions)
    // conjunction: ts AND family compose with rowKey pruning
    val both = full.filter(col("family") === "fam_a" &&
      col("ts") <= lit(CellTable.BaseTs + 100000L))
    val bothExpected = spark.read.parquet(dir).filter(col("family") === "fam_a" &&
      col("ts") <= lit(CellTable.BaseTs + 100000L))
    assert(both.count() == bothExpected.count() && both.count() > 0)
  }

  test("grouped COUNT/MIN/MAX push down as run-length partials") {
    // keyed aggregates answer from the store without decoding value bytes
    val gb = store.groupBy("rowKey")
      .agg(count(lit(1)).as("n_cells"), min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
    val plan = gb.queryExecution.executedPlan.toString
    assert(plan.contains("CellStoreGroupByScan"), s"expected pushed group-by in:\n$plan")
    val expected = spark.read.parquet(storePath).groupBy("rowKey")
      .agg(count(lit(1)).as("n_cells"), min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
    assert(gb.count() == expected.count())
    assert(gb.exceptAll(expected).isEmpty && expected.exceptAll(gb).isEmpty)
    // non-prefix grouping (family is 2nd in the sort order) is still exact:
    // more partial rows, same final answer
    val byQual = store.groupBy("qualifier").agg(count(lit(1)).as("n"))
    assert(byQual.queryExecution.executedPlan.toString.contains("CellStoreGroupByScan"))
    val byQualExp = spark.read.parquet(storePath).groupBy("qualifier").agg(count(lit(1)).as("n"))
    assert(byQual.exceptAll(byQualExp).isEmpty && byQualExp.exceptAll(byQual).isEmpty)
    // a FILTERED grouped agg must NOT push (filters stay residual)
    val filtered = store.filter(col("rowKey") >= lit(key(100L)))
      .groupBy("rowKey").agg(count(lit(1)).as("n"))
    assert(!filtered.queryExecution.executedPlan.toString.contains("CellStoreGroupByScan"))
    assert(filtered.count() ==
      spark.read.parquet(storePath).filter(col("rowKey") >= lit(key(100L)))
        .select("rowKey").distinct().count())
  }

  test("grouped pushdown equals the plain read across batch boundaries") {
    // one region file of 6,000 cells, decoded as a 4096-row batch and a
    // 1904-row one. Without dictionary encoding a decoded string is a view
    // into a vector the next batch overwrites, so each case keeps a string
    // from the first batch whose bytes the second batch replaces: the
    // family run that starts at row 400 and crosses the boundary (row 400
    // of the second batch is another family), and min(family) = fam_a,
    // which only the first batch holds.
    val dir = java.nio.file.Files.createTempDirectory("cellstore_batches").toString
    val k = CellTable.keyToLong(col("rowKey"))
    CellTable.fromTable(spark, sf01, "customer")
      .withColumn("family",
        when(k < 100L, "fam_a").when(k < 1100L, "fam_m").otherwise("fam_q"))
      .coalesce(1).sortWithinPartitions("rowKey", "family", "qualifier", "ts")
      .write.mode("overwrite").option("parquet.enable.dictionary", "false").parquet(dir)
    val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(file.length == 1)
    val footer = graft.sources.HadoopConf.openParquet(
      new org.apache.hadoop.fs.Path(file.head.getPath))
    try {
      val blocks = footer.getRowGroups.asScala
      assert(blocks.map(_.getRowCount).sum == 6000)
      assert(blocks.forall(_.getColumns.asScala.forall(!_.hasDictionaryPage)),
        "test setup needs plain-encoded strings")
    } finally footer.close()
    def both(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val pushed = f(spark.read.format("cellstore").load(dir))
      val plan = pushed.queryExecution.executedPlan.toString
      assert(plan.contains("CellStoreGroupByScan"), s"expected pushed group-by in:\n$plan")
      (pushed, f(spark.read.parquet(dir)))
    }
    val cases = Seq(
      both(_.groupBy("family").agg(count(lit(1)).as("n"), min(col("ts")).as("ts"))),
      both(_.groupBy("cellType").agg(count(lit(1)).as("n"),
        min(col("family")).as("lo"), max(col("family")).as("hi"))),
      both(_.groupBy("cellType", "family").agg(count(lit(1)).as("n"),
        min(col("rowKey")).as("k"))))
    cases.foreach { case (pushed, plain) =>
      assert(pushed.count() == plain.count())
      assert(pushed.exceptAll(plain).isEmpty && plain.exceptAll(pushed).isEmpty)
    }
  }

  test("rowKey blooms: in-range absent GET skips every file; present keys never miss") {
    val dir = java.nio.file.Files.createTempDirectory("bloom_store").toString + "/s"
    // only EVEN custkeys: every odd key is inside the store's [min,max]
    // but absent — the case min/max stats cannot prune and blooms can
    val even = CellTable.fromTable(spark, sf001, "customer")
      .filter(pmod(CellTable.keyToLong(col("rowKey")), lit(2)) === 0)
    even.write.format("cellstore").option("numRegions", "4").mode("overwrite").save(dir)
    // one hidden sidecar per data file, nothing store-wide
    val dataFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName)
    assert(dataFiles.nonEmpty)
    dataFiles.foreach(n => assert(
      new java.io.File(dir, s".$n${graft.sources.CellBloom.BloomSuffix}").exists,
      s"missing bloom sidecar for $n"))
    // each sidecar is folded to its own file's distinct keys
    dataFiles.foreach { n =>
      val keys = spark.read.parquet(s"$dir/$n").select("rowKey").distinct().count()
      assert(sidecarBytes(dir, n) == foldedBytes(keys), s"sidecar of $n ($keys keys)")
    }

    val st = spark.read.format("cellstore").load(dir)
    val present = st.filter(col("rowKey") === lit(key(42)))
    assert(present.count() > 0, "no false negatives ever")
    val absent = st.filter(col("rowKey") === lit(key(43)))
    assert(plannedChunks(absent) == 0,
      "bloom must eliminate every file for an in-range absent key")
    assert(absent.count() == 0)

    // append merges entries: the new key becomes visible, old ones stay
    CellTable.fromTable(spark, sf001, "customer")
      .filter(CellTable.keyToLong(col("rowKey")) === 43)
      .write.format("cellstore").mode("append").save(dir)
    // the one-key append's sidecar is a single 64-bit word
    val appended = new java.io.File(dir).listFiles()
      .map(_.getName).filter(n => n.endsWith(".parquet") && !dataFiles.contains(n))
    assert(appended.length == 1 && sidecarBytes(dir, appended.head) == 8L)
    val st2 = spark.read.format("cellstore").load(dir)
    assert(st2.filter(col("rowKey") === lit(key(43))).count() > 0)
    assert(st2.filter(col("rowKey") === lit(key(42))).count() > 0)

    // salted layout: partition values stay stable, absent GET reads nothing
    val sdir = java.nio.file.Files.createTempDirectory("bloom_salt").toString + "/s"
    even.write.format("cellstore").option("buckets", "4").mode("overwrite").save(sdir)
    val sst = spark.read.format("cellstore").load(sdir)
    assert(sst.filter(col("rowKey") === lit(key(42))).count() > 0)
    assert(sst.filter(col("rowKey") === lit(key(43))).count() == 0)
  }

  /** The sidecar length the fold rule gives a file of `keys` distinct keys:
    * the fewest power-of-two 64-bit words with 10 bits per key, 16 KiB at
    * most. */
  private def foldedBytes(keys: Long): Long = {
    var words = 1L
    while (words < 2048 && words * 64 < keys * 10) words *= 2
    words * 8
  }

  private def sidecarBytes(dir: String, dataFile: String): Long =
    new java.io.File(dir, s".$dataFile${CellBloom.BloomSuffix}").length()

  test("folded blooms keep every key, size to the keys, and stay under 2% false positives") {
    for (n <- Seq(0, 1, 188, 13000)) {
      val bits = CellBloom.empty()
      val keys = (0 until n).map(i => key(2L * i))
      keys.foreach(CellBloom.add(bits, _))
      val folded = CellBloom.fold(bits, n.toLong)
      assert(folded.length * 8L == foldedBytes(n.toLong) &&
        CellBloom.validLength(folded.length * 8L), s"$n keys")
      assert(keys.forall(CellBloom.mayContain(folded, _)), s"a key of $n lost by the fold")
    }
    // 188 keys (a perfbench region) fold to 32 words; 10,000 absent keys
    val bits = CellBloom.empty()
    (0 until 188).foreach(i => CellBloom.add(bits, key(2L * i)))
    val folded = CellBloom.fold(bits, 188L)
    assert(folded.length == 32)
    val falsePositives = (0 until 10000).count(i => CellBloom.mayContain(folded, key(2L * i + 1)))
    assert(falsePositives < 200, s"$falsePositives false positives in 10,000")
    assert(Seq(8L, 256L, 16384L).forall(CellBloom.validLength))
    assert(Seq(0L, 12L, 24L, 100L, 16392L, 32768L).forall(!CellBloom.validLength(_)))
  }

  test("bloom sidecars: a 13,000-key file keeps 16 KiB; an unfolded 16 KiB sidecar still prunes") {
    val dir = java.nio.file.Files.createTempDirectory("bloom_sizes").toString + "/s"
    spark.range(13000).select(
      CellTable.bigEndianKey(col("id") * 2).as("rowKey"), lit("cf").as("family"),
      lit("q").cast("binary").as("qualifier"), lit(CellTable.BaseTs).as("ts"),
      lit("Put").as("cellType"), col("id").cast("string").cast("binary").as("value"))
      .write.format("cellstore").option("numRegions", "1").mode("overwrite").save(dir)
    val dataFiles = new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(dataFiles.length == 1 && sidecarBytes(dir, dataFiles.head) == 16384L)

    // a sidecar written before folding: the full 128 Kbit filter, unfolded
    val edir = java.nio.file.Files.createTempDirectory("bloom_old").toString + "/s"
    CellTable.fromTable(spark, sf001, "customer")
      .filter(pmod(CellTable.keyToLong(col("rowKey")), lit(2)) === 0)
      .write.format("cellstore").option("numRegions", "2").mode("overwrite").save(edir)
    new java.io.File(edir).listFiles().map(_.getName).filter(_.endsWith(".parquet")).foreach { n =>
      val bits = CellBloom.empty()
      spark.read.parquet(s"$edir/$n").select("rowKey").distinct().collect()
        .foreach(r => CellBloom.add(bits, r.getAs[Array[Byte]](0)))
      val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
      bits.foreach(bb.putLong)
      val sidecar = CellBloom.sidecarPath(new org.apache.hadoop.fs.Path(edir), n)
      val fs = graft.sources.HadoopConf.fs(sidecar)
      val out = fs.create(sidecar, true)
      try out.write(bb.array()) finally out.close()
      assert(sidecarBytes(edir, n) == 16384L)
    }
    val st = spark.read.format("cellstore").load(edir)
    assert(plannedChunks(st.filter(col("rowKey") === lit(key(43)))) == 0,
      "an unfolded sidecar must still prune an in-range absent key")
    assert(st.filter(col("rowKey") === lit(key(42))).count() == 4)
  }

  test("bloom sidecars: append commit cost is independent of store file count") {
    val dir = java.nio.file.Files.createTempDirectory("bloom_incr").toString + "/s"
    CellTable.fromTable(spark, sf001, "customer")
      .write.format("cellstore").option("numRegions", "16").mode("overwrite").save(dir)
    def sidecars(): Map[String, Long] = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith(".") &&
        f.getName.endsWith(graft.sources.CellBloom.BloomSuffix))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = sidecars()
    assert(before.size >= 16)
    Thread.sleep(50) // mtime granularity guard
    CellTable.fromTable(spark, sf001, "supplier")
      .write.format("cellstore").mode("append").save(dir)
    val after = sidecars()
    // every pre-existing sidecar untouched — the append wrote only its own
    before.foreach { case (n, t) =>
      assert(after(n) == t, s"append rewrote unrelated bloom sidecar $n") }
    assert(after.size > before.size, "append must add sidecars for its files")

    // truncate clears them all and records only the new files'
    CellTable.fromTable(spark, sf001, "supplier")
      .write.format("cellstore").option("numRegions", "2").mode("overwrite").save(dir)
    val reset = sidecars()
    assert(reset.keySet.intersect(after.keySet).isEmpty,
      "truncate must drop all prior sidecars")
    assert(reset.nonEmpty)
  }

  test("pushed filters stay as residuals: non-key predicates still apply") {
    val out = store
      .filter(col("rowKey") >= lit(key(0L)) && col("qualifier").cast("string") === "c_acctbal")
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(r => new String(r.getAs[Array[Byte]]("qualifier")) == "c_acctbal"))
  }

  /** `get` over the store at `dir` must take the local path and return
    * exactly the plain parquet read's cells under `cond`. */
  private def assertLocalEqualsPlain(dir: String, get: DataFrame => DataFrame): Unit = {
    val local = get(spark.read.format("cellstore").load(dir))
    val plain = get(spark.read.parquet(dir))
    assert(cellStoreScan(local).isInstanceOf[CellStoreLocalScan],
      s"expected the local path in:\n${local.queryExecution.optimizedPlan}")
    assert(local.count() == plain.count())
    assert(local.exceptAll(plain).isEmpty && plain.exceptAll(local).isEmpty)
  }

  test("point GETs run no Spark job, hit or miss") {
    val gets = Seq(key(42L), key(7L), key(42L) :+ 0.toByte, key(100000L))
      .map(k => store.filter(col("rowKey") === lit(k)))
    gets.foreach(g => assert(cellStoreScan(g).isInstanceOf[CellStoreLocalScan]))
    gets.foreach(_.collect()) // warm
    val sc = spark.sparkContext
    val group = "cellstore-local-get"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "gets")
    try {
      val sizes = (0 until 20).map(i => gets(i % gets.size).collect().length)
      assert(sizes.take(4) == Seq(4, 4, 0, 0))
      // the listener bus is asynchronous and in order: once a marker job
      // arrives, every job the GETs started has arrived before it
      sc.setJobDescription("marker")
      spark.range(1).collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!jobs.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.contains("marker"), "listener never saw the marker job")
      assert(jobs.asScala.toSeq.filter(_ != "marker").isEmpty,
        s"GETs started ${jobs.size - 1} jobs")
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("local GETs return the plain read's cells in every shape") {
    def byKey(k: Array[Byte]): DataFrame => DataFrame = _.filter(col("rowKey") === lit(k))
    // hits, an in-range miss (one byte past a stored key), an out-of-range miss
    Seq(key(1L), key(42L), key(150L), key(42L) :+ 0.toByte, key(100000L))
      .foreach(k => assertLocalEqualsPlain(storePath, byKey(k)))
    // an isin whose keys sit in two regions
    val two = store.filter(col("rowKey").isin(key(5L), key(140L)))
    assert(plannedChunks(two) >= 2)
    assertLocalEqualsPlain(storePath, _.filter(col("rowKey").isin(key(5L), key(140L))))
    // a non-key predicate stays a Spark residual over the local scan
    val residual: DataFrame => DataFrame = _.filter(col("rowKey") === lit(key(42L)) &&
      col("qualifier").cast("string") === "c_name")
    assertLocalEqualsPlain(storePath, residual)
    assert(residual(store).count() == 1)
    // column pruning: the scan decodes rowKey for its check, returns only
    // the asked columns
    val pruned: DataFrame => DataFrame =
      byKey(key(42L)).andThen(_.select("qualifier", "value"))
    assertLocalEqualsPlain(storePath, pruned)
    assert(cellStoreScan(pruned(store)).readSchema().fieldNames.toSeq == Seq("qualifier", "value"))
    // limit(1) and count(): the footer aggregate is still declined
    val one = byKey(key(42L))(store).limit(1).collect()
    assert(one.length == 1 && one.head.getAs[Array[Byte]]("rowKey").sameElements(key(42L)))
    val cnt = byKey(key(42L))(store).groupBy().count()
    assert(!cnt.queryExecution.executedPlan.toString.contains("CellStoreAggScan"))
    assert(cnt.collect().head.getLong(0) == 4L && byKey(key(42L))(store).count() == 4L)
  }

  test("local GETs see every version and delete marker, on salted and pinned stores") {
    val base = CellTable.fromTable(spark, sf001, "customer")
    val k = CellTable.keyToLong(col("rowKey"))
    val cells = CellTable.withDeleteMarkers(
      CellTable.withExtraVersions(base, k % 3 === 0, n = 2),
      k % 5 === 0, lit(CellTable.BaseTs + 1500L))
    val dir = java.nio.file.Files.createTempDirectory("cellstore_local").toString + "/s"
    cells.write.format("cellstore").option("numRegions", "4").mode("overwrite").save(dir)
    val sdir = java.nio.file.Files.createTempDirectory("cellstore_local_salt").toString + "/s"
    cells.write.format("cellstore").option("buckets", "4").mode("overwrite").save(sdir)
    // 15 has two extra versions and delete markers, 30 the same, 9 only
    // versions, 10 only markers, 7 neither
    for (d <- Seq(dir, sdir); id <- Seq(7L, 9L, 10L, 15L, 30L)) {
      assertLocalEqualsPlain(d, _.filter(col("rowKey") === lit(key(id))))
    }
    assert(spark.read.format("cellstore").load(dir)
      .filter(col("rowKey") === lit(key(15L))).count() == 4 * 3 + 4)
    assertLocalEqualsPlain(sdir, _.filter(col("rowKey").isin(key(3L), key(10L), key(44L))))
    // keys at both ends of the range store and one past its last key
    for (id <- Seq(1L, 149L, 150L, 151L))
      assertLocalEqualsPlain(dir, _.filter(col("rowKey") === lit(key(id))))
  }

  test("a key whose cells exceed the local bound plans the batch scan") {
    val dir = java.nio.file.Files.createTempDirectory("cellstore_wide").toString + "/s"
    val n = CellStoreLocalScan.MaxRows + 1
    val wide = spark.range(n).select(
      lit(key(1L)).as("rowKey"), lit("cf").as("family"),
      CellTable.bigEndianKey(col("id")).as("qualifier"), lit(CellTable.BaseTs).as("ts"),
      lit("Put").as("cellType"), col("id").cast("string").cast("binary").as("value"))
    wide.write.format("cellstore").option("numRegions", "1").mode("overwrite").save(dir)
    val get = spark.read.format("cellstore").load(dir).filter(col("rowKey") === lit(key(1L)))
    assert(cellStoreScan(get).isInstanceOf[CellStoreScan],
      s"expected the batch scan in:\n${get.queryExecution.optimizedPlan}")
    assert(get.count() == n)
    assert(get.exceptAll(wide).isEmpty)
  }
}
