package graft

import graft.model.CellTable
import graft.operators.{MobStore, StoreDoctor}
import graft.sources.CellBloom
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** hbck-style store checks: healthy stores come back clean, and each
  * planted fault is flagged at the right severity. */
class StoreDoctorSpec extends AnyFunSuite with SparkTestBase {

  private def statusOf(rows: Array[org.apache.spark.sql.Row], check: String): (String, String) =
    rows.find(_.getAs[String]("check") == check)
      .map(r => (r.getAs[String]("status"), r.getAs[String]("detail")))
      .getOrElse(("MISSING", ""))

  test("healthy range store: every check OK") {
    val dir = java.nio.file.Files.createTempDirectory("doctor_ok").toString
    CellTable.writeRegionLayout(
      CellTable.fromTable(spark, sf001, "customer"), dir, numRegions = 4)
    val rows = StoreDoctor.diagnose(spark, dir).collect()
    assert(statusOf(rows, "layout")._1 == "OK")
    assert(statusOf(rows, "file_order")._1 == "OK")
    assert(statusOf(rows, "region_overlap")._1 == "OK")
    // writeRegionLayout goes through the cell-store writer: one sidecar per region
    assert(statusOf(rows, "bloom_coverage") == ("OK", "4/4 sidecars present"))
    assert(statusOf(rows, "compression")._1 == "OK")
  }

  test("a planted raw uncompressed file: missing sidecar WARN, compression INFO, both OK after compaction") {
    val dir = java.nio.file.Files.createTempDirectory("doctor_raw").toString
    val cells = CellTable.fromTable(spark, sf001, "customer")
    CellTable.writeRegionLayout(cells, dir, numRegions = 2)
    // a file of Spark's own parquet sink, uncompressed and with no sidecar
    val raw = s"$dir.raw"
    rawRegionLayout(cells.filter(CellTable.keyToLong(col("rowKey")) % 5 === 0)
      .withColumn("ts", col("ts") + 1000L), raw, numRegions = 1, codec = "none")
    val planted = dataFiles(raw).head
    assert(codecsOf(planted) == Set(
      org.apache.parquet.hadoop.metadata.CompressionCodecName.UNCOMPRESSED))
    java.nio.file.Files.move(planted.toPath, java.nio.file.Paths.get(dir, planted.getName))

    val rows = StoreDoctor.diagnose(spark, dir).collect()
    val (bloomSt, bloomDetail) = statusOf(rows, "bloom_coverage")
    assert(bloomSt == "WARN" && bloomDetail.contains(s"missing: ${planted.getName}"), bloomDetail)
    val (st, detail) = statusOf(rows, "compression")
    assert(st == "INFO" && detail.contains(planted.getName) &&
      detail.contains("a major compaction rewrites them compressed"), detail)

    graft.operators.Compaction.compactStore(spark, dir)
    val healed = StoreDoctor.diagnose(spark, dir).collect()
    assert(statusOf(healed, "compression")._1 == "OK")
    assert(statusOf(healed, "bloom_coverage")._1 == "OK")
  }

  test("DSv2-written salted store: clean including bloom sidecars") {
    val dir = java.nio.file.Files.createTempDirectory("doctor_salt").toString + "/s"
    CellTable.fromTable(spark, sf001, "customer")
      .write.format("cellstore").option("buckets", "4").mode("overwrite").save(dir)
    val rows = StoreDoctor.diagnose(spark, dir).collect()
    assert(statusOf(rows, "layout")._1 == "OK")
    // the sidecars are folded to their files' keys and read OK
    val hDir = new org.apache.hadoop.fs.Path(dir)
    val fs = graft.sources.HadoopConf.fs(hDir)
    val dataFiles = fs.listStatus(hDir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).sorted
    val sidecarLens = dataFiles.map(f => fs.getFileStatus(CellBloom.sidecarPath(hDir, f)).getLen)
    assert(sidecarLens.forall(l => l < CellBloom.NumWords * 8L && CellBloom.validLength(l)),
      sidecarLens.mkString(","))
    assert(statusOf(rows, "bloom_coverage")._1 == "OK")

    // planted fault 1: delete one bloom sidecar → WARN names the file
    val dataFile = dataFiles.head
    fs.delete(CellBloom.sidecarPath(hDir, dataFile), false)
    val warned = StoreDoctor.diagnose(spark, dir).collect()
    val (st, detail) = statusOf(warned, "bloom_coverage")
    assert(st == "WARN" && detail.contains(dataFile))

    // planted fault 1b: a 100-byte sidecar is no valid filter length → WARN
    // names its data file
    val malformed = dataFiles(1)
    val out = fs.create(CellBloom.sidecarPath(hDir, malformed), true)
    try out.write(new Array[Byte](100)) finally out.close()
    val (st1b, detail1b) = statusOf(StoreDoctor.diagnose(spark, dir).collect(), "bloom_coverage")
    assert(st1b == "WARN" && detail1b.contains(s"malformed: $malformed") &&
      detail1b.contains(dataFile), detail1b)

    // planted fault 2: a foreign (non-bucket) file in a salted store → ERROR
    val stray = fs.listStatus(hDir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, stray, fs,
      new org.apache.hadoop.fs.Path(hDir, "stray.parquet"), false,
      graft.sources.HadoopConf.shared)
    val err = StoreDoctor.diagnose(spark, dir).collect()
    val (st2, detail2) = statusOf(err, "layout")
    assert(st2 == "ERROR" && detail2.contains("stray.parquet"))
  }

  test("appended range store reports overlap as compaction advice") {
    val dir = java.nio.file.Files.createTempDirectory("doctor_overlap").toString
    val cells = CellTable.fromTable(spark, sf001, "customer")
    CellTable.writeRegionLayout(cells, dir, numRegions = 2)
    // append the same key space again: region files now overlap
    cells.write.format("cellstore").mode("append")
      .option("numRegions", "2").save(dir)
    val rows = StoreDoctor.diagnose(spark, dir).collect()
    val (st, detail) = statusOf(rows, "region_overlap")
    assert(st == "INFO" && detail.contains("compaction"))
  }

  test("MOB root: dangling refs ERROR, orphan blobs INFO, healthy OK") {
    val dir = java.nio.file.Files.createTempDirectory("doctor_mob").toString
    import spark.implicits._
    val cells = CellTable.toCells(
      Seq((1L, "P" * 400), (2L, "Q" * 400)).toDF("id", "payload"),
      Seq("id"), "blobs", lit(CellTable.BaseTs))
    MobStore.writeMob(cells, dir, threshold = 300)
    val healthy = StoreDoctor.diagnoseMob(spark, dir).collect()
    assert(statusOf(healthy, "mob_refs")._1 == "OK")
    assert(statusOf(healthy, "mob_orphans")._1 == "OK")

    // orphan: purge row 1's ref and compact — blob 1 is unreferenced
    CellTable.withDeleteMarkers(
        cells.filter(CellTable.keyToLong(col("rowKey")) === 1L),
        lit(true), lit(CellTable.BaseTs + 10))
      .filter(col("cellType") === "Delete")
      .write.format("cellstore").mode("append")
      .option("numRegions", "8").save(s"$dir/main")
    MobStore.compactMain(spark, dir, maxVersions = 1)
    val orphaned = StoreDoctor.diagnoseMob(spark, dir).collect()
    assert(statusOf(orphaned, "mob_orphans")._1 == "INFO")

    // dangling: drop the whole side table's rows → refs cannot resolve
    MobStore.reclaimMob(spark, dir) // first clear the orphan
    val mobDir = new org.apache.hadoop.fs.Path(s"$dir/mob")
    val fs = graft.sources.HadoopConf.fs(mobDir)
    spark.read.parquet(s"$dir/mob").limit(0)
      .write.mode("overwrite").parquet(s"$dir/mob_empty")
    fs.delete(mobDir, true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/mob_empty"), mobDir)
    val broken = StoreDoctor.diagnoseMob(spark, dir).collect()
    assert(statusOf(broken, "mob_refs")._1 == "ERROR")
  }

  test("corrupt footer is reported as an ERROR verdict, never thrown") {
    val dir = java.nio.file.Files.createTempDirectory("doctor_corrupt").toString
    CellTable.writeRegionLayout(
      CellTable.fromTable(spark, sf001, "nation"), dir, numRegions = 2)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "garbage.parquet"),
      "this is not a parquet file".getBytes("UTF-8"))
    val rows = StoreDoctor.diagnose(spark, dir).collect()
    val (st, detail) = statusOf(rows, "footers")
    assert(st == "ERROR" && detail.contains("garbage.parquet"))
    // the remaining checks still render verdicts for the readable files
    assert(statusOf(rows, "layout")._1 == "OK")
    assert(statusOf(rows, "file_order")._1 == "OK")
    assert(statusOf(rows, "region_overlap")._1 == "OK")
  }

  test("CLI: TSV rows, error exit wiring, validation") {
    import graft.cli.{Args, StoreDoctorMain}
    val dir = java.nio.file.Files.createTempDirectory("doctor_cli").toString
    CellTable.writeRegionLayout(
      CellTable.fromTable(spark, sf001, "nation"), dir, numRegions = 2)
    val rows = StoreDoctorMain.run(spark, Array("--store", dir))
    assert(rows.nonEmpty && rows.forall(r => r.status != "ERROR"))
    intercept[Args.CliExit](StoreDoctorMain.run(spark, Array()))
    intercept[Args.CliExit](StoreDoctorMain.run(spark, Array("--bogus", "x")))
  }
}
