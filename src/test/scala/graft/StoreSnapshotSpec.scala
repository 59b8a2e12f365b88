package graft

import graft.model.CellTable
import graft.operators.StoreSnapshot
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental snapshot chain: later snapshots ship only new store
  * files, one manifest restores a complete store, and a damaged chain
  * fails the restore instead of restoring a hole. */
class StoreSnapshotSpec extends AnyFunSuite with SparkTestBase {

  test("incremental export ships only new files; restore materializes the full store") {
    val base = java.nio.file.Files.createTempDirectory("graft_snap_chain").toString
    val dir = s"$base/store"
    val cells = CellTable.fromTable(spark, sf001, "nation")
    cells.write.format("cellstore").option("buckets", "2")
      .mode("overwrite").save(dir)

    val s1 = s"$base/s1"
    val copied1 = StoreSnapshot.export(dir, s1)
    assert(copied1.exists(_.endsWith(".parquet")))

    // append a new batch → new immutable files; snapshot 2 ships ONLY them
    cells.withColumn("ts", col("ts") + 1000L)
      .write.format("cellstore").mode("append").save(dir)
    val countAtS2 = spark.read.format("cellstore").load(dir).count()
    val s2 = s"$base/s2"
    val copied2 = StoreSnapshot.exportIncremental(dir, s2, prior = Seq(s1))
    val s1Data = StoreSnapshot.manifest(s1).map(_._1).filter(_.endsWith(".parquet")).toSet
    val shipped2 = copied2.filter(_.endsWith(".parquet")).toSet
    assert(shipped2.nonEmpty && shipped2.intersect(s1Data).isEmpty,
      s"snapshot 2 must ship only new data files, shipped $shipped2")
    // every logical file is in s2's manifest, old ones held by s1
    val m2 = StoreSnapshot.manifest(s2)
    assert(m2.count(_._3 == s1) == s1Data.size)

    // restore from s2 alone → a complete, working, GET-prunable store
    val restored = s"$base/restored"
    StoreSnapshot.restore(s2, restored)
    val r = spark.read.format("cellstore").load(restored)
    assert(r.count() == countAtS2)
    assert(plannedChunks(r.filter(col("rowKey") ===
      lit(java.nio.ByteBuffer.allocate(8).putLong(3L).array()))) == 1,
      "restored store must keep salt pruning")

    // later appends to the live store do not leak into the restore
    cells.withColumn("ts", col("ts") + 2000L)
      .write.format("cellstore").mode("append").save(dir)
    assert(spark.read.format("cellstore").load(restored).count() == countAtS2)

    // a third snapshot against the chain ships only the newest batch
    val s3 = s"$base/s3"
    val copied3 = StoreSnapshot.exportIncremental(dir, s3, prior = Seq(s1, s2))
    val priorData = StoreSnapshot.manifest(s2).map(_._1).filter(_.endsWith(".parquet")).toSet
    assert(copied3.filter(_.endsWith(".parquet")).toSet.intersect(priorData).isEmpty)

    // damage the chain: drop a file s3 inherits from s1 → restore fails loudly
    val victim = StoreSnapshot.manifest(s3).collectFirst {
      case (n, _, h) if h == s1 => n }.get
    assert(new java.io.File(s1, victim).delete())
    val err = intercept[IllegalArgumentException] {
      StoreSnapshot.restore(s3, s"$base/broken")
    }
    assert(err.getMessage.contains(victim))
  }
}
