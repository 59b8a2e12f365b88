package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.model.CellTable
import graft.operators.Compaction
import graft.sources.{CellBloom, CellStoreBatchWrite, CellStoreCompaction, CellStoreSource}
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Compaction: TTL expiry + version retention over the cell store, in
  * place, as one merge job that keeps the store's regions or buckets. */
class CompactionSpec extends AnyFunSuite with SparkTestBase {

  test("in-place compaction keeps the newest version and drops expired cells") {
    val dir = java.nio.file.Files.createTempDirectory("cellstore_compact").toString
    val base = CellTable.fromTable(spark, sf001, "customer")
    // every 5th key gets 2 extra newer versions (ts+1000, ts+2000)
    val versioned = CellTable.withExtraVersions(
      base, pmod(conv(hex(col("rowKey")), 16, 10).cast("bigint"), lit(5)) === 0, n = 2)
    CellTable.writeRegionLayout(versioned, dir, numRegions = 4)

    val before = spark.read.format("cellstore").load(dir)
    val nBase = base.count()
    assert(before.count() > nBase)

    Compaction.compactStore(spark, dir, maxVersions = 1, ttlWatermark = Long.MinValue)

    val after = spark.read.format("cellstore").load(dir)
    // one surviving version per coordinate
    assert(after.count() == nBase)
    assert(after.groupBy("rowKey", "family", "qualifier").count()
      .filter(col("count") > 1).isEmpty)
    // the survivor is the NEWEST version: multi-version keys show the #v2 value
    val multi = after.filter(
      pmod(conv(hex(col("rowKey")), 16, 10).cast("bigint"), lit(5)) === 0)
    assert(multi.count() > 0)
    assert(multi.collect().forall(r =>
      new String(r.getAs[Array[Byte]]("value")).endsWith("#v2")))
    // and the rewritten layout still prunes: point GET = 1 partition
    val key42 = java.nio.ByteBuffer.allocate(8).putLong(42L).array()
    assert(plannedChunks(after.filter(col("rowKey") === lit(key42))) == 1)
  }

  test("delete markers round-trip the DSv2 store; compaction purges them in place") {
    val dir = java.nio.file.Files.createTempDirectory("cellstore_delmark").toString
    val base = CellTable.fromTable(spark, sf001, "region") // 5 rows × 2 quals
    val versioned = CellTable.withExtraVersions(base, lit(true), n = 1)
    val evenKey = pmod(CellTable.keyToLong(col("rowKey")), lit(2)) === 0
    // marker between the base put (BaseTs) and v1 (BaseTs+1000)
    val marked = CellTable.withDeleteMarkers(
      versioned, evenKey, lit(CellTable.BaseTs + 500L))
    marked.write.format("cellstore").option("numRegions", "2")
      .mode("overwrite").save(dir)

    val store = spark.read.format("cellstore").load(dir)
    val nMarkers = base.filter(evenKey).count()
    assert(store.filter(col("cellType") === "Delete").count() == nMarkers,
      "cellType must survive the store round-trip")
    // GET visibility over the store: v1 outlives the marker everywhere
    val vis = CellTable.visibleLatest(store)
    assert(vis.count() == base.count())
    assert(vis.filter(col("ts") =!= (CellTable.BaseTs + 1000L)).count() == 0)

    Compaction.compactStore(spark, dir, maxVersions = 2, ttlWatermark = Long.MinValue)
    val after = spark.read.format("cellstore").load(dir)
    assert(after.filter(col("cellType") === "Delete").count() == 0,
      "major compaction must purge markers")
    // marked coords: masked base dropped, v1 kept; unmarked: both versions
    assert(after.filter(evenKey).count() == nMarkers)
    assert(after.count() == nMarkers + (base.count() - nMarkers) * 2)
  }

  test("per-family policies: TTL and version retention resolve by family") {
    import spark.implicits._
    def cell(k: Long, fam: String, ts: Long, v: String) =
      (k, fam, "q", ts, "Put", v)
    val cells = Seq(
      cell(1L, "hot", 1000L, "h1"), cell(1L, "hot", 2000L, "h2"),
      cell(1L, "hot", 3000L, "h3"),
      cell(1L, "cold", 1000L, "c1"), cell(1L, "cold", 2000L, "c2"),
      cell(1L, "cold", 3000L, "c3"))
      .toDF("k", "family", "q", "ts", "cellType", "v").select(
        CellTable.bigEndianKey(col("k")).as("rowKey"), col("family"),
        col("q").cast("binary").as("qualifier"), col("ts"), col("cellType"),
        col("v").cast("binary").as("value"))
    // hot: keep 2 versions, TTL >= 1500 (kills h1); cold: keep all ages, 1 version
    val out = Compaction.survivorsPerFamily(cells,
        Map("hot" -> Compaction.FamilyPolicy(maxVersions = 2, ttlWatermark = 1500L),
            "cold" -> Compaction.FamilyPolicy(maxVersions = 1)),
        default = Compaction.FamilyPolicy())
      .select(col("family"), col("value").cast("string").as("v"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(out.toSet == Set("hot" -> "h3", "hot" -> "h2", "cold" -> "c3"))
    // uniform survivors is the single-policy special case
    val uniform = Compaction.survivors(cells, maxVersions = 1, ttlWatermark = 1500L)
      .select(col("value").cast("string").as("v")).as[String].collect().toSet
    assert(uniform == Set("h3", "c3"))
  }

  test("TTL watermark expires whole rows deterministically") {
    import spark.implicits._
    val cells = Seq(
      ("k1", 1000L, "old"), ("k1", 5000L, "new"), ("k2", 900L, "expired")
    ).toDF("k", "ts", "v")
      .select(col("k").cast("binary").as("rowKey"), lit("f").as("family"),
        lit("q").cast("binary").as("qualifier"), col("ts"),
        lit("Put").as("cellType"), col("v").cast("binary").as("value"))
    val out = Compaction.survivors(cells, maxVersions = 99, ttlWatermark = 1000L)
      .select(col("value").cast("string")).collect().map(_.getString(0)).toSet
    assert(out == Set("old", "new")) // ts=900 expired; both k1 versions kept
  }

  test("incremental compaction leaves a concurrent append untouched") {
    val dir = java.nio.file.Files.createTempDirectory("cellstore_inc").toString
    val base = CellTable.fromTable(spark, sf001, "nation")
    val versioned = CellTable.withExtraVersions(
      base, CellTable.keyToLong(col("rowKey")) % 2 === 0, n = 2)
    CellTable.writeRegionLayout(versioned, dir, numRegions = 2)

    // simulate ingest racing the compaction pass: the "late" append lands
    // AFTER the pass has merged its snapshot but BEFORE its commit, whose
    // `replaceFiles` scope deletes only the snapshot files. These are the
    // steps `compactStoreIncremental` takes, with the append between them.
    val inputs = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
    val late = base.withColumn("ts", col("ts") + 9000L)
    val write = new CellStoreBatchWrite(dir, java.util.UUID.randomUUID().toString,
      CellStoreSource.Schema, truncateFirst = false, buckets = None, replaceFiles = inputs.toSeq)
    val merged = CellStoreCompaction.run(spark.sparkContext,
      CellStoreCompaction.plan(inputs.map(new Path(dir, _)).toSeq, buckets = None),
      write.writerFactory, maxVersions = 1, ttlWatermark = Long.MinValue)
    late.write.format("cellstore").mode("append").save(dir) // races in first
    write.commit(merged)

    val after = spark.read.format("cellstore").load(dir)
    // compacted survivors (1 per coordinate) + the late append, nothing lost
    assert(after.count() == base.count() * 2)
    assert(after.filter(col("ts") === CellTable.BaseTs + 9000L).count() == base.count())
    // inputs gone, outputs + late files present, manifest written
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(inputs.forall(!names.contains(_)))
    assert(names.exists(_.startsWith("_compact_")))
    val manifests = graft.sources.CellStoreSource.readCompactManifests(
      new org.apache.hadoop.fs.Path(dir))
    assert(manifests.size == 1)
    assert(manifests.head.inputs == inputs.toSet)
    assert(manifests.head.outputs.nonEmpty &&
      manifests.head.outputs.forall(names.contains))
  }

  test("compactStoreIncremental compacts in place and reports its inputs") {
    val dir = java.nio.file.Files.createTempDirectory("cellstore_inc2").toString + "/s"
    val base = CellTable.fromTable(spark, sf001, "region")
    val versioned = CellTable.withExtraVersions(base, lit(true), n = 2)
    versioned.write.format("cellstore").option("buckets", "2")
      .mode("overwrite").save(dir)
    val rewritten = Compaction.compactStoreIncremental(spark, dir, maxVersions = 1)
    assert(rewritten.nonEmpty)
    val store = spark.read.format("cellstore").load(dir)
    assert(store.count() == base.count())
    // salt layout preserved across the incremental pass
    assert(new java.io.File(s"$dir/_cellstore_meta.json").exists())
    assert(plannedChunks(store.filter(col("rowKey") ===
      lit(java.nio.ByteBuffer.allocate(8).putLong(1L).array()))) == 1)
    // nothing left to compact → no-op, and no new manifest confusion
    val again = Compaction.compactStoreIncremental(spark, dir, maxVersions = 1)
    assert(again.nonEmpty) // rewrites the (already-minimal) files idempotently
    assert(spark.read.format("cellstore").load(dir).count() == base.count())
  }

  test("snapshot export copies a consistent pinned file set") {
    val dir = java.nio.file.Files.createTempDirectory("cellstore_snap").toString + "/s"
    val dest = java.nio.file.Files.createTempDirectory("cellstore_snap_out").toString + "/x"
    val base = CellTable.fromTable(spark, sf001, "nation")
    base.write.format("cellstore").option("buckets", "2").mode("overwrite").save(dir)
    val exported = graft.operators.StoreSnapshot.export(dir, dest)
    assert(exported.nonEmpty)
    val snap = spark.read.format("cellstore").load(dest)
    assert(snap.count() == base.count())
    // the snapshot is itself a salted store: manifest copied, GET prunes
    assert(new java.io.File(s"$dest/_cellstore_meta.json").exists())
    assert(plannedChunks(snap.filter(col("rowKey") ===
      lit(java.nio.ByteBuffer.allocate(8).putLong(3L).array()))) == 1)
    // the export is point-in-time: later appends do not leak into it
    base.withColumn("ts", col("ts") + 1000L)
      .write.format("cellstore").mode("append").save(dir)
    assert(spark.read.format("cellstore").load(dest).count() == base.count())
  }

  test("compacting a salted store preserves the salt layout") {
    val dir = java.nio.file.Files.createTempDirectory("cellstore_salt_compact").toString + "/s"
    val base = CellTable.fromTable(spark, sf001, "nation")
    val versioned = CellTable.withExtraVersions(
      base, CellTable.keyToLong(col("rowKey")) % 2 === 0, n = 2)
    versioned.write.format("cellstore").option("buckets", "4")
      .mode("overwrite").save(dir)

    Compaction.compactStore(spark, dir, maxVersions = 1)

    // still salted: manifest intact, files bucket-named, GET plans 1 bucket
    assert(new java.io.File(s"$dir/_cellstore_meta.json").exists())
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.getName.startsWith("bucket-")))
    val store = spark.read.format("cellstore").load(dir)
    assert(store.count() == base.count()) // one surviving version per cell
    val get = store.filter(col("rowKey") ===
      lit(java.nio.ByteBuffer.allocate(8).putLong(3L).array()))
    assert(plannedChunks(get) == 1)
    assert(get.count() == 2) // one cell per non-key nation column (n_name, n_regionkey)
  }

  // Merge compaction equals the library survivors ---------------------------

  private def hexOf(b: Array[Byte]): String =
    if (b == null) "null" else b.map(x => f"${x & 0xff}%02x").mkString

  /** A store's cells as a sorted multiset of canonical strings. */
  private def multiset(cells: DataFrame): Seq[String] =
    cells.select("rowKey", "family", "qualifier", "ts", "cellType", "value").collect()
      .map(r => Seq(hexOf(r.getAs[Array[Byte]](0)), r.getString(1), hexOf(r.getAs[Array[Byte]](2)),
        r.get(3), r.getString(4), hexOf(r.getAs[Array[Byte]](5))).mkString("|"))
      .sorted.toSeq

  private def dataFiles(dir: String): Seq[File] =
    new File(dir).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .sortBy(_.getName)

  /** A fresh copy of a fixture store: data files, sidecars, manifest. */
  private def copyStore(template: String): String = {
    val dir = Files.createTempDirectory("cellstore_compact_case")
    new File(template).listFiles().filter(_.isFile)
      .foreach(f => Files.copy(f.toPath, dir.resolve(f.getName)))
    dir.toString
  }

  /** Two newer versions (ts+1000, +2000) on every third key and a delete
    * marker at BaseTs+1500 on every seventh: no two cells of a coordinate
    * share a timestamp, so the survivors are unique. */
  private def history(base: DataFrame): DataFrame = {
    val k = CellTable.keyToLong(col("rowKey"))
    CellTable.withDeleteMarkers(CellTable.withExtraVersions(base, k % 3 === 0, n = 2),
      k % 7 === 0, lit(CellTable.BaseTs + 1500L))
  }

  /** A key-disjoint 8-region range store (`writeRegionLayout`). */
  private lazy val disjointStore: String = {
    val dir = Files.createTempDirectory("cellstore_fx_disjoint").toString
    CellTable.writeRegionLayout(history(CellTable.fromTable(spark, sf001, "customer")), dir,
      numRegions = 8)
    dir
  }

  /** The q_mob_reclaim shape: 8 regions, then an 8-file marker append
    * written through the store's range writer over the same keys. */
  private lazy val appendedStore: String = {
    val dir = Files.createTempDirectory("cellstore_fx_append").toString
    val base = CellTable.fromTable(spark, sf001, "customer")
    CellTable.writeRegionLayout(history(base), dir, numRegions = 8)
    val marked = base.filter(CellTable.keyToLong(col("rowKey")) % 10 === 3)
    CellTable.withDeleteMarkers(marked, lit(true), lit(CellTable.BaseTs + 10L))
      .filter(col("cellType") === "Delete")
      .write.format("cellstore").mode("append").option("numRegions", "8").save(dir)
    dir
  }

  /** A salted store whose buckets each hold three files: base cells, then
    * a version append, then a marker append. */
  private lazy val saltedStore: String = {
    val dir = Files.createTempDirectory("cellstore_fx_salted").toString + "/s"
    val cells = history(CellTable.fromTable(spark, sf001, "customer"))
    val put = col("cellType") === "Put"
    Seq(put && col("ts") === CellTable.BaseTs, put && col("ts") > CellTable.BaseTs, !put)
      .zip(Seq("overwrite", "append", "append")).foreach { case (part, mode) =>
        cells.filter(part).write.format("cellstore").option("buckets", "4").mode(mode).save(dir)
      }
    dir
  }

  /** A salted store whose buckets each hold more files than one merge round
    * reads: the cells dealt out over `MaxFanIn + 2` appends by a hash of the
    * whole cell, so a marker and the puts it masks often land in different
    * rounds. */
  private lazy val manyFileStore: String = {
    val dir = Files.createTempDirectory("cellstore_fx_many").toString + "/s"
    val cells = history(CellTable.fromTable(spark, sf001, "customer"))
    val n = CellStoreCompaction.MaxFanIn + 2
    val deal = pmod(xxhash64(col("rowKey"), col("family"), col("qualifier"), col("ts"),
      col("cellType")), lit(n.toLong))
    (0 until n).foreach { i =>
      cells.filter(deal === i).write.format("cellstore").option("buckets", "2")
        .mode(if (i == 0) "overwrite" else "append").save(dir)
    }
    dir
  }

  /** Range regions and a newer-version append over the whole key range,
    * every file written in many small row groups. */
  private lazy val multiGroupStore: String = {
    val dir = Files.createTempDirectory("cellstore_fx_groups").toString
    val base = CellTable.fromTable(spark, sf01, "customer")
    val hconf = spark.sparkContext.hadoopConfiguration
    val prevBlock = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 16384)
    try {
      CellTable.writeRegionLayout(history(base), dir, numRegions = 4)
      base.filter(CellTable.keyToLong(col("rowKey")) % 2 === 0)
        .withColumn("ts", col("ts") + 3000L)
        .coalesce(1).sortWithinPartitions("rowKey", "family", "qualifier", "ts")
        .write.mode("append").parquet(dir)
    } finally {
      if (prevBlock == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", prevBlock)
    }
    dir
  }

  private def groupsOf(dir: String, buckets: Option[Int]): Seq[CellStoreCompaction.MergeGroup] =
    CellStoreCompaction.plan(dataFiles(dir).map(f => new Path(f.getPath)), buckets)

  private val Policies = Seq(
    (1, Long.MinValue), (2, Long.MinValue),
    (1, CellTable.BaseTs + 500L), (2, CellTable.BaseTs + 1000L))

  /** Compact a copy of `template` under each policy, alternating the two
    * entry points, and check it against `Compaction.survivors` over the
    * store before compaction; every output has a bloom sidecar and a GET
    * still plans one chunk. Returns the compacted copies. */
  private def checkAgainstSurvivors(template: String): Seq[String] =
    Policies.zipWithIndex.map { case ((maxVersions, ttl), i) =>
      val dir = copyStore(template)
      val expected = multiset(Compaction.survivors(
        spark.read.format("cellstore").load(dir), maxVersions, ttl))
      assert(expected.nonEmpty)
      if (i % 2 == 0) Compaction.compactStore(spark, dir, maxVersions, ttl)
      else assert(Compaction.compactStoreIncremental(spark, dir, maxVersions, ttl).nonEmpty)
      val after = spark.read.format("cellstore").load(dir)
      assert(multiset(after) == expected,
        s"maxVersions=$maxVersions ttl=$ttl: compacted cells differ from survivors")
      dataFiles(dir).foreach(f => assert(
        new File(dir, "." + f.getName + CellBloom.BloomSuffix).exists(),
        s"no bloom sidecar for ${f.getName}"))
      val k = after.select("rowKey").head().getAs[Array[Byte]](0)
      assert(plannedChunks(after.filter(col("rowKey") === lit(k))) == 1)
      dir
    }

  test("merge compaction of a key-disjoint range store equals survivors and keeps its regions") {
    val regions = dataFiles(disjointStore).map(f =>
      CellStoreSource.footerBlocks(new Path(f.getPath)).flatMap(_.keyRange))
    assert(regions.size == 8 && groupsOf(disjointStore, None).forall(_.files.size == 1))
    checkAgainstSurvivors(disjointStore).foreach { dir =>
      // every output file lies inside one input region
      dataFiles(dir).foreach { f =>
        val out = CellStoreSource.footerBlocks(new Path(f.getPath)).flatMap(_.keyRange)
        def within(in: Seq[(Array[Byte], Array[Byte])]): Boolean =
          java.util.Arrays.compareUnsigned(in.head._1, out.head._1) <= 0 &&
            java.util.Arrays.compareUnsigned(out.last._2, in.last._2) <= 0
        assert(regions.exists(within), s"${f.getName} crosses a region")
      }
    }
  }

  test("merge compaction of a range store with an overlapping append equals survivors") {
    assert(dataFiles(appendedStore).size == 16)
    assert(groupsOf(appendedStore, None).exists(_.files.size > 1),
      "the marker append must take the overlapping-group path")
    checkAgainstSurvivors(appendedStore).foreach(dir =>
      assert(dataFiles(dir).size <= 8, "an append must not multiply the regions"))
  }

  test("merge compaction of a salted store with multi-file buckets equals survivors") {
    val groups = groupsOf(saltedStore, Some(4))
    assert(groups.map(_.partitionId) == (0 until 4) && groups.forall(_.files.size == 3))
    checkAgainstSurvivors(saltedStore).foreach { dir =>
      assert(new File(s"$dir/${CellStoreSource.MetaFile}").exists())
      val buckets = dataFiles(dir).map(f => CellStoreSource.bucketIdOf(f.getName))
      assert(buckets.forall(_.isDefined) && buckets.distinct.size == buckets.size)
    }
  }

  test("merge compaction of buckets with more files than one round reads equals survivors") {
    val groups = groupsOf(manyFileStore, Some(2))
    assert(groups.size == 2 && groups.forall(_.files.size > CellStoreCompaction.MaxFanIn))
    checkAgainstSurvivors(manyFileStore).foreach { dir =>
      assert(dataFiles(dir).size == 2)
      assert(!new File(dir).listFiles().exists(_.getName.startsWith("_tmp_")))
    }
  }

  test("merge compaction of files with several row groups equals survivors") {
    dataFiles(multiGroupStore).foreach(f => assert(
      CellStoreSource.footerBlocks(new Path(f.getPath)).size > 1,
      s"test setup needs multi-row-group files, ${f.getName} has one"))
    assert(groupsOf(multiGroupStore, None).size > 1, "the overlapping group must be cut")
    checkAgainstSurvivors(multiGroupStore)
  }

  /** Jobs, tasks, shuffle bytes written and input rows read by the Spark
    * jobs `body` runs. */
  private def jobStats(body: => Unit): (Int, Int, Long, Long) = {
    val sc = spark.sparkContext
    val group = s"compaction-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val tasks = new AtomicInteger()
    val shuffle = new AtomicLong()
    val inputRows = new AtomicLong()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "marker") marker.countDown()
          else { jobs.incrementAndGet(); e.stageInfos.foreach(s => stages.add(s.stageId)) }
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId)) {
          tasks.addAndGet(e.stageInfo.numTasks)
          shuffle.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          inputRows.addAndGet(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "compaction")
    try {
      body
      // the listener bus is asynchronous and in order: once the marker job
      // arrives, every earlier job and stage event has arrived
      sc.setJobDescription("marker")
      spark.range(1).collect()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job")
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    (jobs.get, tasks.get, shuffle.get, inputRows.get)
  }

  test("compactStore over an 8-region range store runs one job and shuffles nothing") {
    val dir = copyStore(disjointStore)
    val cells = spark.read.format("cellstore").load(dir).count()
    val (jobs, tasks, shuffleBytes, inputRows) = jobStats(Compaction.compactStore(spark, dir))
    assert(jobs == 1, s"compaction ran $jobs jobs")
    assert(tasks == 8, s"expected one task per region, got $tasks")
    assert(shuffleBytes == 0L, s"compaction wrote $shuffleBytes shuffle bytes")
    // the merge reads outside a Spark scan, yet its stage counts what it read
    assert(inputRows == cells, s"the stage reports $inputRows input rows for $cells cells")
  }

  test("an overlapping store of multi-row-group files compacts in more than one task") {
    val dir = copyStore(multiGroupStore)
    val (jobs, tasks, shuffleBytes, _) = jobStats(Compaction.compactStore(spark, dir))
    assert(jobs == 1 && shuffleBytes == 0L, s"$jobs jobs, $shuffleBytes shuffle bytes")
    assert(tasks > 1, s"the overlapping group compacted in $tasks task")
  }

  test("a corrupt store file fails the compaction and leaves the originals in place") {
    // range: the planner's footer read fails; salted: a merge task fails
    // while the other buckets' tasks write into the job's temp directory
    Seq(disjointStore, saltedStore).foreach { template =>
      val dir = copyStore(template)
      val files = dataFiles(dir)
      val bad = files.head
      val counts = files.tail.map(f => f.getName -> spark.read.parquet(f.getPath).count())
      Files.write(bad.toPath, "not a parquet file".getBytes("UTF-8"))
      new File(dir, "." + bad.getName + ".crc").delete()
      intercept[Exception](Compaction.compactStore(spark, dir))
      assert(dataFiles(dir).map(_.getName) == files.map(_.getName))
      counts.foreach { case (name, n) =>
        assert(spark.read.parquet(s"$dir/$name").count() == n, s"$name changed")
      }
      assert(new String(Files.readAllBytes(bad.toPath), "UTF-8") == "not a parquet file")
      val tmp = new File(dir).listFiles().filter(_.getName.startsWith("_tmp_"))
      assert(tmp.isEmpty, s"left ${tmp.map(_.getName).mkString(",")}")
    }
  }
}
