package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/**
 * The engine's one loaded Hadoop `Configuration` per JVM — the analogue of
 * the reference building `HBaseConfiguration.create()` once per tool run
 * (`CopyRow.java:101`) instead of once per call.
 *
 * Loading a configuration scans the classpath for every `*-default.xml` and
 * `*-site.xml` resource and parses the XML (~10 ms); a bare
 * `new Configuration()` on a per-GET or per-file path pays that every time.
 * Every cell-store metadata, read and write path uses bare defaults, so they
 * all read this one instance.
 *
 * READ-ONLY: nothing may call `set` on [[shared]]. A path that needs extra
 * keys takes a copy, `new Configuration(HadoopConf.shared)` — a copy clones
 * the loaded properties and loads nothing. (Paths that must honour the
 * session's `spark.hadoop.*` settings keep using
 * `spark.sessionState.newHadoopConf()`.)
 */
object HadoopConf {

  val shared: Configuration = {
    val c = new Configuration()
    c.size() // load the default resources now, once
    c
  }

  def fs(path: Path): FileSystem = path.getFileSystem(shared)

  /** Parquet read options over [[shared]]. Built per open: a reader's
    * `close()` releases its options' codec factory, so options are never
    * shared between readers. (The one-argument `ParquetFileReader.open`
    * would build and load a fresh default `Configuration` instead.) */
  def readOptions(): ParquetReadOptions = HadoopReadOptions.builder(shared).build()

  def inputFile(file: Path): HadoopInputFile = HadoopInputFile.fromPath(file, shared)

  /** Open a parquet file for footer and row-group reads; caller closes. */
  def openParquet(file: Path): ParquetFileReader =
    ParquetFileReader.open(inputFile(file), readOptions())
}
