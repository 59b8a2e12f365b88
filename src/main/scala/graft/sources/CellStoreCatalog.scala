package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * Catalog for cell stores: each table is a store directory under `root`
 * (`spark.sql.catalog.<name>=graft.sources.CellStoreCatalog`,
 * `spark.sql.catalog.<name>.root=/path`). Registering stores through a
 * catalog — rather than `format("cellstore").load(path)` — is what unlocks
 * storage-partitioned joins: Spark resolves the `bucket` transform reported
 * by [[CellStoreScan#outputPartitioning]] against THIS catalog's
 * [[FunctionCatalog]], and two salted stores with the same bucket count
 * then sort-merge-join with ZERO exchange (the HBase-salted-table layout
 * meeting Spark's SPJ machinery; reference scan surface
 * `CorruptRowsMR.java:68-91` — one co-located split per region).
 */
class CellStoreCatalog extends TableCatalog with FunctionCatalog {
  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null && root.nonEmpty,
      s"cellstore catalog '$name' requires option spark.sql.catalog.$name.root=<dir>")
  }
  override def name(): String = catalogName

  private def dirOf(ident: Identifier): Path =
    new Path((root +: ident.namespace().toSeq :+ ident.name()).mkString("/"))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((root +: namespace.toSeq).mkString("/"))
    val fs = HadoopConf.fs(dir)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(_.isDirectory)
      .map(s => Identifier.of(namespace, s.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    if (!HadoopConf.fs(dir).exists(dir)) throw new NoSuchTableException(ident)
    new CellStoreTable(dir.toString)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    require(schema.isEmpty || schema.fieldNames.sameElements(CellStoreSource.Schema.fieldNames),
      s"cellstore tables have the fixed cell schema, got ${schema.fieldNames.mkString(",")}")
    val dir = dirOf(ident)
    HadoopConf.fs(dir).mkdirs(dir)
    new CellStoreTable(dir.toString)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("cellstore tables have a fixed schema")

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    HadoopConf.fs(dir).delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val fs = HadoopConf.fs(dirOf(oldIdent))
    if (!fs.exists(dirOf(oldIdent))) throw new NoSuchTableException(oldIdent)
    if (!fs.rename(dirOf(oldIdent), dirOf(newIdent)))
      throw new java.io.IOException(s"rename $oldIdent -> $newIdent failed")
  }

  // FunctionCatalog — just the `bucket` transform the scan reports
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket")) else Array.empty

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket") CellBucketFunction
    else throw new NoSuchFunctionException(ident)
}

/**
 * `bucket(numBuckets, rowKey)` — the salt of the salted store layout.
 * DELIBERATELY identical to Spark's own shuffle hash-partitioning
 * (`pmod(murmur3_hash(key), n)` with seed 42): the DSv2 writer declares a
 * clustered-by-rowKey distribution with a pinned partition count, so the
 * partition id Spark routes each row to IS this bucket value — the writer
 * never re-derives it, and the scan can recompute it for point-GET bucket
 * pruning. Bound function equality (SPJ compatibility across two stores)
 * goes through `canonicalName`.
 */
object CellBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, rowKey): Spark hash-partitioning bucket of a binary row key"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
        inputType.fields(0).dataType == IntegerType &&
        inputType.fields(1).dataType == BinaryType,
      s"bucket expects (int numBuckets, binary key), got $inputType")
    Bound
  }

  /** pmod(murmur3(key bytes, seed 42), n) — must track HashPartitioning. */
  def bucketOf(key: Array[Byte], n: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      key, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, key.length, 42)
    ((h % n) + n) % n
  }

  object Bound extends ScalarFunction[Int] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, BinaryType)
    override def resultType(): DataType = IntegerType
    override def isResultNullable: Boolean = false
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.cellstore.bucket"
    override def produceResult(input: InternalRow): Int =
      bucketOf(input.getBinary(1), input.getInt(0))
  }
}
