package graft

import graft.model.CellTable
import graft.operators.Compaction
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Compaction: TTL expiry + version retention over the cell store, in
  * place, with the region layout re-established by the writer. */
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

    Compaction.compactStore(spark, dir, maxVersions = 1,
      ttlWatermark = Long.MinValue, numRegions = 4)

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

    Compaction.compactStore(spark, dir, maxVersions = 2,
      ttlWatermark = Long.MinValue, numRegions = 2)
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
    // AFTER the pass snapshots its inputs but BEFORE its commit. The scan's
    // `files` pin + the commit's `replaceFiles` scope make the interleaving
    // equivalent: only the snapshot files are rewritten/deleted.
    val inputs = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
    val late = base.withColumn("ts", col("ts") + 9000L)
    val compacted = Compaction.survivors(
      spark.read.format("cellstore").option("files", inputs.mkString(",")).load(dir),
      maxVersions = 1, ttlWatermark = Long.MinValue)
    late.write.format("cellstore").mode("append").save(dir) // races in first
    compacted.write.format("cellstore").mode("append")
      .option("replaceFiles", inputs.mkString(","))
      .option("numRegions", "2").save(dir)

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
}
