package graft

import graft.model.CellTable
import graft.streaming.{CellStoreIngest, StreamDedup}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ingest into the cell store: micro-batches append through the
  * DSv2 writer, composing with watermarked stream dedup; the salted layout
  * and its pruning survive multi-batch ingest. */
class CellStoreIngestSpec extends AnyFunSuite with SparkTestBase {

  test("two batches of deduped docs land salted; GET still plans one bucket") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

    val base = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val dir = s"$base/store"
    val ckpt = s"$base/ckpt"

    // upstream state composes ahead of the sink: watermark-bounded dedup
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val deduped = StreamDedup.exactDedupStream(docs, lateness = "1 hour")
    val cells = CellTable.toCells(
      deduped.select("doc_id", "text"),
      keyCols = Seq("doc_id"), family = "documents", ts = lit(CellTable.BaseTs))

    val q = CellStoreIngest.start(cells, dir, buckets = 4, checkpoint = ckpt)
    try {
      // batch 1: in-batch duplicate text
      input.addData((1L, "aaa", ts(0)), (3L, "aaa", ts(5)), (2L, "bbb", ts(10)))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate (dropped) + a new doc
      input.addData((4L, "bbb", ts(15)), (5L, "ccc", ts(20)))
      q.processAllAvailable()
    } finally q.stop()

    val store = spark.read.format("cellstore").load(dir)
    val texts = store.filter(col("qualifier").cast("string") === "text")
      .select(col("value").cast("string")).collect().map(_.getString(0))
    assert(texts.sorted.toSeq == Seq("aaa", "bbb", "ccc"))

    // salted manifest present; bucket pruning effective across batch files
    assert(new java.io.File(s"$dir/_cellstore_meta.json").exists())
    val get = store.filter(col("rowKey") ===
      lit(java.nio.ByteBuffer.allocate(8).putLong(2L).array()))
    assert(plannedChunks(get) == 1)
    val got = get.filter(col("qualifier").cast("string") === "text")
      .select(col("value").cast("string")).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("bbb"))
  }

  test("streaming counters: per-batch RMW increments accumulate across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.StoreCounters
    val input = MemoryStream[(Long, Long)] // (key, delta)
    val base = java.nio.file.Files.createTempDirectory("graft_sctr").toString
    val dir = s"$base/counters"

    val deltas = input.toDF().toDF("k", "delta").select(
      CellTable.bigEndianKey(col("k")).as("rowKey"),
      lit("counters").as("family"),
      lit("hits").cast("binary").as("qualifier"),
      col("delta"))
    val q = CellStoreIngest.startIncrements(deltas, dir, buckets = 4,
      checkpoint = s"$base/ckpt", baseTs = CellTable.BaseTs)
    try {
      input.addData((1L, 5L), (1L, 3L), (2L, 1L)) // batch 0: in-batch pre-sum
      q.processAllAvailable()
      input.addData((1L, 2L))                     // batch 1: reads batch 0's latest
      q.processAllAvailable()
    } finally q.stop()

    val store = spark.read.format("cellstore").load(dir)
    val latest = CellTable.latestVersion(store)
      .select(CellTable.keyToLong(col("rowKey")).as("k"),
        StoreCounters.decodeCounter(col("value")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(latest == Map(1L -> 10L, 2L -> 1L))
    // key 1 has a version trail: 8 (batch 0) then 10 (batch 1)
    val trail = store.filter(CellTable.keyToLong(col("rowKey")) === 1L)
      .orderBy("ts").select(StoreCounters.decodeCounter(col("value")))
      .as[Long].collect()
    assert(trail.sameElements(Array(8L, 10L)))

    // replay guard: re-running a committed batch's body is a no-op
    val replayed = spark.read.format("cellstore").load(dir)
    assert(replayed.filter(col("ts") === CellTable.BaseTs + 2L).count() == 1)
  }

  test("capstone: events stream -> sessionize -> cells -> salted store, GET-able") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Sessionize
    val input = MemoryStream[Sessionize.Event]
    val base = java.nio.file.Files.createTempDirectory("graft_capstone").toString
    val dir = s"$base/sessions_store"

    // closed sessions stream out of the stateful operator, become cells
    // keyed by user, and append into a salted store — all one query
    val sessions = Sessionize.sessions(input.toDS(), gapMinutes = 30,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
    val cells = CellTable.toCells(
      sessions.toDF().withColumnRenamed("user_id", "uid"),
      keyCols = Seq("uid"), family = "sessions", ts = col("session_start_ms"))
    val q = CellStoreIngest.start(cells, dir, buckets = 4, checkpoint = s"$base/ckpt")
    try {
      def ev(u: Long, tMin: Long) =
        Sessionize.Event(u, tMin * 60000L, "view", 1.0)
      // user 7: one session closed by a later >gap event; user 8 stays open
      input.addData(ev(7L, 0), ev(7L, 10), ev(8L, 5))
      q.processAllAvailable()
      input.addData(ev(7L, 120)) // closes the first session of user 7
      q.processAllAvailable()
    } finally q.stop()

    val store = spark.read.format("cellstore").load(dir)
    // exactly one closed session landed: user 7, [0, 10] minutes, 2 events
    val get = store.filter(col("rowKey") ===
      lit(java.nio.ByteBuffer.allocate(8).putLong(7L).array()))
    assert(plannedChunks(get) == 1) // salted GET pruning on derived data
    val byQual = get.collect().map(r =>
      new String(r.getAs[Array[Byte]]("qualifier")) ->
        new String(r.getAs[Array[Byte]]("value"))).toMap
    assert(byQual("n_events") == "2")
    assert(byQual("session_end_ms") == (10L * 60000L).toString)
    assert(store.filter(col("rowKey") ===
      lit(java.nio.ByteBuffer.allocate(8).putLong(8L).array())).count() == 0)
  }

  test("incremental compaction mid-tail: no replay, no loss") {
    val base = java.nio.file.Files.createTempDirectory("graft_tail_compact").toString
    val dir = s"$base/store"
    val cells = CellTable.fromTable(spark, sf001, "region")
    cells.write.format("cellstore").option("buckets", "2")
      .mode("overwrite").save(dir)

    val q = spark.readStream.format("cellstore").load(dir)
      .writeStream.format("memory").queryName("tail_compact")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      q.processAllAvailable()
      val n0 = spark.table("tail_compact").count()
      assert(n0 == cells.count())
      // a newer version of every cell, then compaction rewrites the store
      cells.withColumn("ts", col("ts") + 5000L)
        .write.format("cellstore").mode("append").save(dir)
      q.processAllAvailable()
      assert(spark.table("tail_compact").count() == cells.count() * 2)
      // every input of the rewrite is in the tail's committed offset, so
      // the rewritten outputs must be marked delivered, NOT replayed
      val rewritten = graft.operators.Compaction
        .compactStoreIncremental(spark, dir, maxVersions = 1)
      assert(rewritten.nonEmpty)
      q.processAllAvailable()
      assert(spark.table("tail_compact").count() == cells.count() * 2,
        "compacted outputs replayed into the tail")
      // and the tail keeps working: a post-compaction append arrives once
      cells.withColumn("ts", col("ts") + 9000L)
        .write.format("cellstore").mode("append").save(dir)
      q.processAllAvailable()
      assert(spark.table("tail_compact").count() == cells.count() * 3)
    } finally q.stop()

    // batch reads see the compacted store + the post-compaction append
    val store = spark.read.format("cellstore").load(dir)
    assert(store.count() == cells.count() * 2)
    assert(store.filter(col("ts") === CellTable.BaseTs + 5000L).count() == cells.count())
  }

  test("streaming appends maintain bloom sidecars per batch; tail + elision compose") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 11:$m%02d:00")
    val base = java.nio.file.Files.createTempDirectory("graft_ingest_bloom").toString
    val dir = s"$base/store"
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val cells = CellTable.toCells(docs.select("doc_id", "text"),
      keyCols = Seq("doc_id"), family = "documents", ts = lit(CellTable.BaseTs))
    def sidecars(): Map[String, Long] = {
      val d = new java.io.File(dir)
      if (!d.exists) Map.empty
      else d.listFiles().filter(f => f.getName.startsWith(".") &&
          f.getName.endsWith(graft.sources.CellBloom.BloomSuffix))
        .map(f => f.getName -> f.lastModified()).toMap
    }

    val ingest = CellStoreIngest.start(cells, dir, buckets = 4,
      checkpoint = s"$base/ckpt")
    try {
      input.addData((2L, "aaa", ts(0)), (4L, "bbb", ts(1)))
      ingest.processAllAvailable()
      val after1 = sidecars()
      assert(after1.nonEmpty, "first micro-batch must record bloom sidecars")

      // tail the same store while the ingest keeps appending
      val tail = spark.readStream.format("cellstore").load(dir)
        .writeStream.format("memory").queryName("bloom_tail")
        .option("checkpointLocation", s"$base/tailckpt").start()
      try {
        tail.processAllAvailable()
        val n1 = spark.table("bloom_tail").count()
        assert(n1 > 0)
        Thread.sleep(50) // mtime granularity guard
        input.addData((6L, "ccc", ts(2)))
        ingest.processAllAvailable()
        tail.processAllAvailable()
        val after2 = sidecars()
        // the micro-batch commit wrote only its own files' sidecars
        after1.foreach { case (n, t) => assert(after2(n) == t,
          s"micro-batch append rewrote unrelated bloom sidecar $n") }
        assert(after2.size > after1.size)
        // and the tail saw exactly the appended cells, not a replay
        assert(spark.table("bloom_tail").count() > n1, "tail missed the append")
      } finally tail.stop()
    } finally ingest.stop()

    // bloom elision across batch files: present keys from BOTH batches
    // answer; an in-range absent key reads nothing
    val store = spark.read.format("cellstore").load(dir)
    def get(k: Long) = store.filter(col("rowKey") ===
      lit(java.nio.ByteBuffer.allocate(8).putLong(k).array()))
    assert(get(2L).count() > 0 && get(6L).count() > 0)
    assert(get(3L).count() == 0)
  }

  test("tailing a store as a stream emits only newly committed files per batch") {
    val base = java.nio.file.Files.createTempDirectory("graft_tail").toString
    val dir = s"$base/store"
    val cells = CellTable.fromTable(spark, sf001, "region")
    cells.write.format("cellstore").option("buckets", "2")
      .mode("overwrite").save(dir)

    val q = spark.readStream.format("cellstore").load(dir)
      .writeStream.format("memory").queryName("store_tail")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      q.processAllAvailable()
      val first = spark.table("store_tail").count()
      assert(first == cells.count())
      // a later append surfaces as exactly one incremental batch
      cells.withColumn("ts", col("ts") + 5000L)
        .write.format("cellstore").mode("append").save(dir)
      q.processAllAvailable()
      assert(spark.table("store_tail").count() == cells.count() * 2)
      assert(spark.table("store_tail").filter(col("ts") > CellTable.BaseTs).count()
        == cells.count())
    } finally q.stop()
  }
}
