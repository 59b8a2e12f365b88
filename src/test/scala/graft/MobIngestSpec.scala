package graft

import graft.model.CellTable
import graft.operators.MobStore
import graft.streaming.MobIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming MOB ingest: per-batch threshold split, cross-batch blob dedup
  * via the content address, resolution correct across batch files. */
class MobIngestSpec extends AnyFunSuite with SparkTestBase {

  test("two batches: overlapping blobs stored once, resolution exact, GET pruned") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = java.nio.file.Files.createTempDirectory("mob_ingest").toString
    val dir = s"$base/store"

    val big1 = "X" * 500; val big2 = "Y" * 400
    val cells = CellTable.toCells(
      input.toDF().toDF("id", "payload"),
      keyCols = Seq("id"), family = "blobs", ts = lit(CellTable.BaseTs))

    val q = MobIngest.start(cells, dir, threshold = 300, buckets = 4,
      checkpoint = s"$base/ckpt")
    try {
      input.addData((1L, big1), (2L, "small-a"), (3L, big2))
      q.processAllAvailable()
      // batch 2 repeats big1 under a new key and adds a new small row
      input.addData((4L, big1), (5L, "small-b"))
      q.processAllAvailable()
    } finally q.stop()

    // cross-batch dedup: two distinct blobs, not three
    assert(spark.read.parquet(s"$dir/mob").count() == 2)

    // resolution returns the exact payloads for all five rows
    val resolved = MobStore.readResolved(spark, dir)
      .select(
        CellTable.keyToLong(col("rowKey")).as("id"),
        col("value").cast("string").as("payload"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("payload")).toMap
    assert(resolved == Map(1L -> big1, 2L -> "small-a", 3L -> big2,
      4L -> big1, 5L -> "small-b"))

    // the salted main store still plans a one-bucket GET after two batches
    val get = MobStore.readMain(spark, dir).filter(col("rowKey") ===
      lit(java.nio.ByteBuffer.allocate(8).putLong(4L).array()))
    assert(plannedChunks(get) == 1)

    // a replayed batch's blobs are no-ops: appending batch-2's entries
    // again through the same anti-join path adds nothing
    val again = MobStore.blobEntries(
      CellTable.toCells(Seq((9L, big1)).toDF("id", "payload"),
        Seq("id"), "blobs", lit(CellTable.BaseTs)).filter(MobStore.isBlob(300)))
      .join(spark.read.parquet(s"$dir/mob").select("mob_key", "mob_len"),
        Seq("mob_key", "mob_len"), "left_anti")
    assert(again.count() == 0)
  }

  test("a crashed writer's empty mob dir (only _temporary) does not wedge the stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = java.nio.file.Files.createTempDirectory("mob_ingest_crash").toString
    val dir = s"$base/store"
    // simulate the crash artifact: dir/mob exists but holds no committed
    // data file — bare-existence gating + schema inference would throw
    // on every replay and permanently wedge the stream
    assert(new java.io.File(s"$dir/mob/_temporary").mkdirs())

    val big = "Z" * 500
    val cells = CellTable.toCells(
      input.toDF().toDF("id", "payload"),
      keyCols = Seq("id"), family = "blobs", ts = lit(CellTable.BaseTs))
    val q = MobIngest.start(cells, dir, threshold = 300, buckets = 4,
      checkpoint = s"$base/ckpt")
    try {
      input.addData((1L, big), (2L, "small"))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream wedged: ${q.exception}")
    } finally q.stop()
    assert(spark.read.parquet(s"$dir/mob").count() == 1)
    val resolved = MobStore.readResolved(spark, dir)
      .select(col("value").cast("string").as("payload"))
      .collect().map(_.getString(0)).toSet
    assert(resolved == Set(big, "small"))
  }
}
