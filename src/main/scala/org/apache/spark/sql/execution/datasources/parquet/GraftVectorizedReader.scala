package org.apache.spark.sql.execution.datasources.parquet

import scala.jdk.CollectionConverters._

import graft.sources.HadoopConf
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/**
 * Version-boundary bridge (same pattern as `org.apache.spark.sql.graft.Shims`):
 * the cell store's columnar read path built on Spark's OWN vectorized parquet
 * decoder, opened through the same `initialize(split, taskContext, inputFile,
 * stream, footer)` entry Spark's `ParquetPartitionReaderFactory` uses.
 *
 * The store supplies the file, the pruned column set, and a per-row-group
 * keep predicate (its key-range skip). The footer is read once, and the
 * decoder is handed a footer that lists only the kept row groups, so skipped
 * groups cost no page IO. Spark's `VectorizedParquetRecordReader` does the
 * page decoding straight into `ColumnarBatch`es, which feed whole-stage
 * codegen without a row pivot. It is the store's only decoder: an empty
 * `required` (a count-only scan) yields batches that carry only row counts,
 * and the grouped-aggregate reader walks batch rows.
 *
 * Every open reads [[HadoopConf.shared]] through a per-reader copy that
 * carries the read-support keys; no open loads a configuration.
 */
object GraftVectorizedReader {

  /** Open `file` for vectorized reads of `required`, skipping row groups
    * that fail `keep` (invoked with the group's index and metadata, so
    * chunked reads can bound themselves to a group range). Caller drives
    * `nextBatch()`/`resultBatch()` and must `close()`. */
  def open(
      file: String,
      required: StructType,
      keep: (Int, BlockMetaData) => Boolean,
      capacity: Int): VectorizedParquetRecordReader = {
    val path = new Path(file)
    val inputFile = HadoopConf.inputFile(path)
    val stream = inputFile.newStream()
    try {
      val footer = ParquetFileReader.readFooter(inputFile, HadoopConf.readOptions(), stream)
      val kept = footer.getBlocks.asScala.zipWithIndex
        .collect { case (b, i) if keep(i, b) => b }
      val vec = new VectorizedParquetRecordReader(false, capacity)
      // the base class casts the split to the mapred FileSplit
      vec.initialize(
        new FileSplit(path, 0L, inputFile.getLength, Array.empty[String]),
        new TaskAttemptContextImpl(readConf(required), new TaskAttemptID()),
        Some(inputFile), Some(stream),
        Some(new ParquetMetadata(footer.getFileMetaData, kept.asJava)))
      vec.initBatch(new StructType(), InternalRow.empty)
      vec
    } catch { case t: Throwable => stream.close(); throw t }
  }

  /** A copy of the shared conf with the keys `ParquetReadSupport` and the
    * parquet-to-Spark schema converter read: the Spark schema to decode
    * into, and the five converter flags pinned to false (the cell schema has
    * no INT96, nanosecond or string-as-binary columns, so they are inert). */
  private def readConf(required: StructType): Configuration = {
    val conf = new Configuration(HadoopConf.shared)
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, required.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, required.json)
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG).foreach(e => conf.setBoolean(e.key, false))
    conf
  }
}

/**
 * Write-side twin of [[GraftVectorizedReader]]: a parquet writer that takes
 * Spark `InternalRow`s straight through Spark's own `ParquetWriteSupport` —
 * no per-field example-`Group` materialization, the same converter the
 * built-in parquet sink uses. The store's writers stream their sorted
 * slices through this.
 */
object GraftRowParquetWriter {

  def open(
      file: String,
      schema: StructType): org.apache.parquet.hadoop.ParquetWriter[InternalRow] = {
    val conf = new Configuration(HadoopConf.shared)
    ParquetWriteSupport.setSchema(schema, conf)
    // the keys ParquetWriteSupport.init + SparkToParquetSchemaConverter
    // require (Spark's own write path copies them from the session conf;
    // here the values are pinned — the cell schema has no datetime or
    // field-id columns, so these choices are inert)
    conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
    conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    new RowWriterBuilder(new org.apache.hadoop.fs.Path(file))
      .withConf(conf)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()
  }

  private class RowWriterBuilder(path: org.apache.hadoop.fs.Path)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[InternalRow, RowWriterBuilder](path) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }
}
