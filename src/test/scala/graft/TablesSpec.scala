package graft

import java.nio.file.Files

import graft.sources.Tables
import org.scalatest.funsuite.AnyFunSuite

/** On-disk table sizing behind the load seam's redistribution decision. */
class TablesSpec extends AnyFunSuite {

  private def write(f: java.io.File, n: Int): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, new Array[Byte](n)); ()
  }

  test("table bytes sum regular files through nested directories") {
    val root = Files.createTempDirectory("tables_spec").toFile
    write(new java.io.File(root, "part-0.parquet"), 100)
    write(new java.io.File(root, "k=1/part-1.parquet"), 30)
    write(new java.io.File(root, "k=2/sub/part-2.parquet"), 7)
    assert(Tables.fileBytes(root) == 137)
    assert(Tables.fileBytes(new java.io.File(root, "part-0.parquet")) == 100)
  }

  test("an unlistable table directory fails naming the path") {
    val root = Files.createTempDirectory("tables_spec_unlistable").toFile
    // listFiles() is null on an I/O error or a permission denial, which a
    // superuser never gets, so the failure is simulated
    val unlistable = new java.io.File(root, "denied") {
      override def isDirectory: Boolean = true
      override def listFiles(): Array[java.io.File] = null
    }
    val e = intercept[java.io.IOException](Tables.fileBytes(unlistable))
    assert(e.getMessage.contains(unlistable.getPath))
  }
}
