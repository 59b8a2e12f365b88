package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Derives a `Dataset[Cell]`-schema table from the driver's Parquet fixtures
 * (FIXTURES.md §B): one cell per (row, column), rowKey = big-endian 8-byte
 * primary key (so unsigned byte order == numeric key order), family = source
 * table name, qualifier = UTF-8 column name, value = column rendered to
 * string bytes. Entirely declarative — the derivation is a single
 * select+explode that stays inside whole-stage codegen; no collect, no UDF.
 */
object CellTable {

  /** Base timestamp per derived family — fixed so goldens are stable. */
  val BaseTs: Long = 1700000000000L

  /** Primary-key column per fixture table that has a single-column key. */
  val PrimaryKeys: Map[String, String] = Map(
    "region"   -> "r_regionkey",
    "nation"   -> "n_nationkey",
    "customer" -> "c_custkey",
    "supplier" -> "s_suppkey",
    "part"     -> "p_partkey",
    "orders"   -> "o_orderkey",
    "events"   -> "event_id",
    "documents"-> "doc_id")

  /** Multi-column primary keys — the composite-rowkey idiom. HBase row keys
    * are routinely `component‖component` byte concatenations (the reference
    * treats keys as opaque bytes for exactly this reason —
    * `CopyRow.java:104`); each component here is the 8-byte big-endian
    * encoding, so unsigned lexicographic byte order == componentwise
    * numeric order and a leading-component range is a prefix scan. */
  val CompositeKeys: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))

  /** Key columns of `table` in key order (single or composite). */
  def keyColumnsOf(table: String): Seq[String] =
    PrimaryKeys.get(table).map(Seq(_))
      .orElse(CompositeKeys.get(table))
      .getOrElse(throw new IllegalArgumentException(s"no key mapping for table '$table'"))

  /** Composite key bytes: concatenated big-endian components. */
  def compositeKey(components: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
    if (components.lengthCompare(1) == 0) bigEndianKey(components.head)
    else concat(components.map(bigEndianKey): _*)

  /** Long -> big-endian 8-byte binary, built-ins only (hex/lpad/unhex). */
  def bigEndianKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unhex(lpad(hex(c.cast("bigint")), 16, "0"))

  /** Inverse of [[bigEndianKey]], safe for keys with the high bit set:
    * a one-shot `conv(hex(k),16,10)` yields an unsigned decimal that
    * exceeds BIGINT for such keys and comes back NULL. Decoding the two
    * 32-bit halves separately and re-applying two's-complement keeps every
    * intermediate inside long range (signedHi∈[-2³¹,2³¹), ×2³²+lo spans
    * exactly [-2⁶³, 2⁶³) with no overflow). */
  def keyToLong(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = lpad(hex(c), 16, "0")
    val hi = conv(substring(h, 1, 8), 16, 10).cast("bigint")
    val lo = conv(substring(h, 9, 8), 16, 10).cast("bigint")
    val signedHi = hi - when(hi >= 2147483648L, 4294967296L).otherwise(0L)
    signedHi * 4294967296L + lo
  }

  /**
   * Build the long/narrow cell table for one fixture table.
   * At 100 TB this shape is what an HBase snapshot/HFile bulk read lands as;
   * partitioning by rowKey ranges ≙ region splits.
   */
  def fromTable(spark: SparkSession, sfDir: String, table: String): DataFrame =
    toCells(graft.sources.Tables.readParquet(spark, s"$sfDir/$table.parquet"),
      keyColumnsOf(table), table, lit(BaseTs))

  /** Generic row→cells derivation (streaming-safe: select + explode only) —
    * the shape [[fromTable]] uses, parameterized for arbitrary frames such
    * as a stream being ingested into the store. */
  def toCells(
      df: DataFrame,
      keyCols: Seq[String],
      family: String,
      ts: org.apache.spark.sql.Column): DataFrame = {
    val valueCols = df.columns.filterNot(keyCols.contains)
    val cellStructs = valueCols.map { c =>
      struct(
        lit(c).cast("binary").as("qualifier"),
        col(c).cast("string").cast("binary").as("value"))
    }
    df.select(
        compositeKey(keyCols.map(col)).as("rowKey"),
        ts.cast("long").as("ts"),
        explode(array(cellStructs: _*)).as("cell"))
      .select(
        col("rowKey"),
        lit(family).as("family"),
        col("cell.qualifier").as("qualifier"),
        col("ts"),
        lit("Put").as("cellType"),
        col("cell.value").as("value"))
  }

  /**
   * Inject extra versions for rows where `pred` holds: `n` additional cells
   * per existing cell at ts+1000, ts+2000, … (FIXTURES.md §B multi-version
   * injection). Values are suffixed with the version ordinal so
   * latest-version-wins reads are observable.
   */
  def withExtraVersions(cells: DataFrame, pred: org.apache.spark.sql.Column, n: Int): DataFrame = {
    val extra = cells.filter(pred)
      .select(col("*"), explode(sequence(lit(1), lit(n))).as("v"))
      .select(
        col("rowKey"), col("family"), col("qualifier"),
        (col("ts") + col("v") * 1000L).as("ts"),
        col("cellType"),
        concat(col("value").cast("string"), lit("#v"), col("v").cast("string"))
          .cast("binary").as("value"))
    cells.unionByName(extra)
  }

  /**
   * Persist a cell table in region-split layout: `numRegions` key ranges,
   * key-sorted within each file — the columnar analogue of HBase regions +
   * HFile ordering. A write through the `cellstore` writer, so the layout is
   * an ordinary cell store: snappy-compressed region files, a rowKey bloom
   * sidecar per region and the rename commit. Point GETs prune to one
   * region by footer statistics and blooms; range scans read only
   * overlapping regions.
   */
  def writeRegionLayout(cells: DataFrame, path: String, numRegions: Int): Unit =
    cells.write.format("cellstore").option("numRegions", numRegions.toString)
      .mode("overwrite").save(path)

  /**
   * Latest-version-wins read (SURVEY.md §1.4): HBase's default single-version
   * visibility expressed as a window — partition by full cell coordinates,
   * keep the max-ts cell.
   */
  def latestVersion(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("rowKey", "family", "qualifier")
      .orderBy(col("ts").desc)
    cells.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Inject a DeleteColumn-style marker at `ts` for every (row, family,
    * qualifier) coordinate where `pred` holds — the mutation type the
    * reference carries verbatim (`CopyRow.java:135` `setType`) made
    * observable: a marker masks all cells at or before its timestamp. */
  def withDeleteMarkers(
      cells: DataFrame,
      pred: org.apache.spark.sql.Column,
      ts: org.apache.spark.sql.Column): DataFrame = {
    val markers = cells.filter(pred)
      .select(col("rowKey"), col("family"), col("qualifier")).distinct()
      .select(
        col("rowKey"), col("family"), col("qualifier"),
        ts.cast("long").as("ts"),
        lit("Delete").as("cellType"),
        lit(Array.empty[Byte]).as("value"))
    cells.unionByName(markers)
  }

  /**
   * Delete-masked latest-version read — HBase GET visibility with
   * DeleteColumn markers: per (rowKey, family, qualifier) a marker at ts T
   * hides every cell with ts ≤ T; the newest surviving Put wins. A
   * coordinate whose every Put is masked disappears entirely.
   *
   * One shuffle: both window passes (unordered marker-max, ordered
   * row_number) share the same partitioning key.
   */
  def visibleLatest(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("rowKey", "family", "qualifier")
    cells
      .withColumn("_delTs",
        max(when(col("cellType") === "Delete", col("ts"))).over(w))
      .filter(col("cellType") =!= "Delete" &&
        (col("_delTs").isNull || col("ts") > col("_delTs")))
      .withColumn("_rn", row_number().over(w.orderBy(col("ts").desc)))
      .filter(col("_rn") === 1)
      .drop("_delTs", "_rn")
  }

  /** HBase TimeRange read — the table AS OF `asOfTs`: only cells written
    * at or before that instant exist, and visibility (delete masks,
    * latest-wins) is evaluated among them. A marker written AFTER the
    * as-of instant does not mask — time-travel resurrects pre-delete
    * data, exactly HBase's `Get.setTimeRange` semantics. The time filter
    * is a narrow predicate pushed below the visibility window, so an
    * as-of read costs the same as a latest read. */
  def visibleAsOf(cells: DataFrame, asOfTs: Long): DataFrame =
    visibleLatest(cells.filter(col("ts") <= asOfTs))

  /** HBase column-family TTL read — a cell (Put OR Delete marker)
    * whose age at `nowTs` is ≥ `ttlMillis` is EXPIRED: removed before
    * visibility evaluation, exactly as an HBase read treats cells past
    * the family TTL (and as [[graft.operators.Compaction.survivors]]'
    * `ttlWatermark` purges them physically). An expired marker stops
    * masking — but whatever it masked has, by construction, expired
    * first. Same narrow pre-filter shape as [[visibleAsOf]]: a TTL
    * read costs the same as a latest read. */
  def visibleWithTtl(cells: DataFrame, nowTs: Long, ttlMillis: Long): DataFrame =
    visibleLatest(cells.filter(col("ts") > nowTs - ttlMillis))

  /** HBase VERSIONS=n read — the newest `n` delete-visible Put versions
    * per (row, family, qualifier), tagged `version_rank` (1 = newest).
    * Same single (coordinate-partitioned) shuffle as [[visibleLatest]];
    * the rank filter caps output at n rows per coordinate. */
  def visibleVersions(cells: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1)
    val w = Window.partitionBy("rowKey", "family", "qualifier")
    cells
      .withColumn("_delTs",
        max(when(col("cellType") === "Delete", col("ts"))).over(w))
      .filter(col("cellType") =!= "Delete" &&
        (col("_delTs").isNull || col("ts") > col("_delTs")))
      .withColumn("version_rank",
        row_number().over(w.orderBy(col("ts").desc)).cast("long"))
      .filter(col("version_rank") <= n)
      .drop("_delTs")
  }

  /**
   * [[visibleLatest]] as ONE hash aggregation instead of two window
   * passes — the read shape the read-modify-write operators
   * ([[graft.operators.StoreMutations]], [[graft.operators.StoreCounters]])
   * build on: per coordinate, the newest Put value, masked by Delete
   * markers (marker at T hides every cell with ts ≤ T; a fully-masked
   * coordinate disappears). Equivalent because the newest Put survives the
   * mask iff its ts is beyond the newest marker — and then it IS the
   * visible latest.
   *
   * `value` is the raw binary, so the final aggregate is a SortAggregate
   * (binary buffers aren't UnsafeRow-mutable); callers whose value domain
   * decodes to a primitive should copy this shape with the decode pushed
   * before the groupBy ([[graft.operators.StoreCounters]] does) to get a
   * map-side-combining HashAggregate.
   */
  /**
   * Wide-row view — SURVEY §1.4's optional `Result` mapping: one row per
   * (rowKey, family) with a qualifier→value MAP under delete-masked
   * latest-version visibility ([[visibleLatestValue]]), plus the column
   * count and the newest cell ts. The HBase client's
   * `Result.getFamilyMap` shape for consumers that want whole logical
   * rows instead of the long/narrow cell frame.
   *
   * Determinism: map entries are sorted by qualifier BEFORE
   * `map_from_entries`, so the map's entry order never depends on
   * aggregation order — byte-identical output on any engine (and the
   * oracle replays `list_sort` + `map_from_entries` in DuckDB).
   *
   * Shuffle shape: the input is pre-partitioned on (rowKey, family);
   * hash partitioning on a PREFIX of the visibility aggregation's
   * (rowKey, family, qualifier) grouping satisfies its clustering, so
   * both aggregations run in that one partitioning — ONE exchange total
   * (asserted in CellModelSpec), and wide rows never ship twice.
   */
  def wideRows(cells: DataFrame): DataFrame = {
    val parted = cells.repartition(col("rowKey"), col("family"))
    visibleLatestValue(parted)
      .groupBy(col("rowKey"), col("family"))
      .agg(
        map_from_entries(array_sort(collect_list(struct(
          col("qualifier").cast("string").as("key"),
          col("value").cast("string").as("value"))))).as("columns"),
        count(lit(1)).as("n_cols"),
        max(col("ts")).as("ts"))
  }

  def visibleLatestValue(cells: DataFrame): DataFrame = {
    val put = col("cellType") =!= "Delete"
    cells
      .groupBy(col("rowKey"), col("family"), col("qualifier"))
      .agg(
        max(when(!put, col("ts"))).as("_delTs"),
        max(when(put, col("ts"))).as("_putTs"),
        // max_by skips rows whose ordering is null, i.e. the markers
        max_by(when(put, col("value")), when(put, col("ts"))).as("value"))
      .filter(col("_putTs").isNotNull &&
        (col("_delTs").isNull || col("_putTs") > col("_delTs")))
      .select(col("rowKey"), col("family"), col("qualifier"),
        col("_putTs").as("ts"), col("value"))
  }
}
