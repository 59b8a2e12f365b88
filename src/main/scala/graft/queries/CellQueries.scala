package graft
package queries

import graft.model.CellTable
import graft.operators._
import graft.queries.QueryDef.sql
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The HBase cell model and the cell store: CopyRow and CorruptRows, the
  * visibility/version/TTL reads, mutations, diffs and sync, and the
  * DSv2 store scans with their pushed filters. */
object CellQueries {

  /** CopyRow over the customer cell table: key = custkey 42 big-endian
    * (`\x00`×7 then 0x2A = '*'), ts override on. Output string-rendered. */
  def copyRowQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = CellTable.fromTable(spark, sfDir, "customer")
    CopyRow.plan(cells, "\\x00\\x00\\x00\\x00\\x00\\x00\\x00*",
        overrideTs = true, tsToUse = 1717200000000L)
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("family"),
        col("qualifier").cast("string").as("qualifier"),
        col("ts"),
        col("cellType"),
        col("value").cast("string").as("value"))
  }

  /** Cell-model scan: multi-version injection + latest-version-wins read.
    * Version injection targets every 10th key — the numeric key recovered
    * from the big-endian rowKey bytes, so the rule is oracle-expressible
    * (`c_custkey % 10 = 0`) while still being computed from the cell
    * table's own binary key like a real multi-version store would. */
  private def cellLatestQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val base = CellTable.fromTable(spark, sfDir, "customer")
    val versioned = CellTable.withExtraVersions(
      base, pmod(CellTable.keyToLong(col("rowKey")), lit(10)) === 0, n = 2)
    CellTable.latestVersion(versioned)
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("qualifier").cast("string").as("qualifier"),
        col("ts"),
        col("value").cast("string").as("value"))
  }

  /** Wide-row view over the same multi-version injection as
    * [[cellLatestQuery]]: one row per customer with the qualifier→value
    * map under latest-version visibility — closes SURVEY §1.4's optional
    * `Result`/family-map shape.
    *
    * Contract packaging: `CellTable.wideRows` keeps its MapType API for
    * programmatic consumers, but the DECLARED query renders the map as a
    * scalar string — unit-separator-joined `q=v` entries in the map's
    * (qualifier-sorted) order — because the oracle harness
    * canonicalizes by sorting raw column values in pandas, which throws
    * on map/array cells (the round-9 red row). Every declared query's
    * output schema is atomic-only; DeclaredSchemaSpec enforces this. */
  private def wideRowQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val base = CellTable.fromTable(spark, sfDir, "customer")
    val versioned = CellTable.withExtraVersions(
      base, pmod(CellTable.keyToLong(col("rowKey")), lit(10)) === 0, n = 2)
    CellTable.wideRows(versioned)
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("family"),
        array_join(
          transform(map_entries(col("columns")),
            e => concat(e("key"), lit("="), e("value"))),
          "\u001f").as("columns"),
        col("n_cols"), col("ts"))
  }

  /** Wide-row CONSUMER: filter + project THROUGH the map view
    * (`element_at(columns, 'c_mktsegment')`), proving the wide shape
    * composes as an input to further relational work rather than being a
    * terminal rendering. The map never reaches the output (atomic-only
    * contract): the query keeps machinery-segment customers with negative
    * balance and emits scalar fields pulled out of the map. */
  private def wideFilterQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val base = CellTable.fromTable(spark, sfDir, "customer")
    val versioned = CellTable.withExtraVersions(
      base, pmod(CellTable.keyToLong(col("rowKey")), lit(10)) === 0, n = 2)
    CellTable.wideRows(versioned)
      // predicates stay on the rendered strings (suffix-tolerant prefix
      // tests) so both engines evaluate the identical derivation — a
      // numeric cast would trip ANSI on the '#v2'-suffixed versions
      .filter(element_at(col("columns"), "c_mktsegment").startsWith("MACHINERY") &&
        element_at(col("columns"), "c_acctbal").startsWith("-"))
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        element_at(col("columns"), "c_name").as("name"),
        element_at(col("columns"), "c_acctbal").as("acctbal"),
        col("n_cols"), col("ts"))
  }

  /** TimeRange (as-of) read: versions as in [[cellLatestQuery]] plus
    * delete markers at BaseTs+1500 on every %7 key — but read AS OF
    * BaseTs+1200: v2 (ts+2000) does not exist yet, the markers (ts+1500)
    * do not mask yet, so %10 keys surface v1 and everything else the
    * base version. Time-travel resurrects pre-delete data (HBase
    * `setTimeRange`); CellModelSpec asserts the contrast with the
    * present-time read, where %7 rows vanish. */
  private def cellAsOfQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val base = CellTable.fromTable(spark, sfDir, "customer")
    val versioned = CellTable.withExtraVersions(
      base, pmod(CellTable.keyToLong(col("rowKey")), lit(10)) === 0, n = 2)
    val marked = CellTable.withDeleteMarkers(
      versioned, pmod(CellTable.keyToLong(col("rowKey")), lit(7)) === 0,
      lit(CellTable.BaseTs + 1500L))
    CellTable.visibleAsOf(marked, CellTable.BaseTs + 1200L)
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("qualifier").cast("string").as("qualifier"),
        col("ts"),
        col("value").cast("string").as("value"))
  }

  /** Column-family TTL read: at now = base+2500 with ttl = 2000, every
    * base-timestamp cell has aged out — only the %10 keys' fresher
    * versions survive, and a %7 marker at base+2200 masks even the
    * newest version (HBase TTL + delete-mask interaction). */
  private def cellTtlQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val base = CellTable.fromTable(spark, sfDir, "customer")
    val versioned = CellTable.withExtraVersions(
      base, pmod(CellTable.keyToLong(col("rowKey")), lit(10)) === 0, n = 2)
    val marked = CellTable.withDeleteMarkers(
      versioned, pmod(CellTable.keyToLong(col("rowKey")), lit(7)) === 0,
      lit(CellTable.BaseTs + 2200L))
    CellTable.visibleWithTtl(marked,
      nowTs = CellTable.BaseTs + 2500L, ttlMillis = 2000L)
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("qualifier").cast("string").as("qualifier"),
        col("ts"),
        col("value").cast("string").as("value"))
  }

  /** VERSIONS=2 read over the same multi-version injection: %10 keys
    * surface v2 then v1 (ranks 1, 2), everything else its single base
    * version at rank 1 — HBase's scan-with-VERSIONS shape. */
  private def cellVersionsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val base = CellTable.fromTable(spark, sfDir, "customer")
    val versioned = CellTable.withExtraVersions(
      base, pmod(CellTable.keyToLong(col("rowKey")), lit(10)) === 0, n = 2)
    CellTable.visibleVersions(versioned, n = 2)
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("qualifier").cast("string").as("qualifier"),
        col("ts"),
        col("value").cast("string").as("value"),
        col("version_rank"))
  }

  /** Delete-marker visibility: versions injected as in [[cellLatestQuery]],
    * then a DeleteColumn marker at BaseTs+1500 on every custkey%7==0
    * coordinate. %7∧%10 rows keep their v2 Put (ts 2000 > marker); %7-only
    * rows lose their single base Put entirely — both mask regimes in one
    * query. */
  private def cellVisibleQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val base = CellTable.fromTable(spark, sfDir, "customer")
    val versioned = CellTable.withExtraVersions(
      base, pmod(CellTable.keyToLong(col("rowKey")), lit(10)) === 0, n = 2)
    val marked = CellTable.withDeleteMarkers(
      versioned, pmod(CellTable.keyToLong(col("rowKey")), lit(7)) === 0,
      lit(CellTable.BaseTs + 1500L))
    CellTable.visibleLatest(marked)
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("qualifier").cast("string").as("qualifier"),
        col("ts"),
        col("value").cast("string").as("value"))
  }

  /** Authorized scan under cell visibility labels: each qualifier carries a
    * deterministic label expression exercising every grammar branch
    * (plain label, '&' conjunction, '|' alternative, '!' negation, empty
    * = public); the scan runs with auths {internal, marketing}. */
  private def cellAclQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = CellTable.fromTable(spark, sfDir, "customer")
    val keyL = CellTable.keyToLong(col("rowKey"))
    val q = col("qualifier").cast("string")
    val vis = when(q === "c_acctbal", lit("finance&internal"))
      .when(q === "c_name",
        when(pmod(keyL, lit(3)) === 0, lit("pii"))
          .when(pmod(keyL, lit(3)) === 1, lit("!restricted&internal"))
          .otherwise(lit("")))
      .when(q === "c_mktsegment", lit("marketing|finance"))
      .otherwise(lit("!partner"))
    Visibility.scanWithAuths(cells.withColumn("vis", vis),
        Seq("internal", "marketing"))
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        q.as("qualifier"),
        col("value").cast("string").as("value"))
  }

  /** Per-family compaction (HBase column-family TTL/VERSIONS): customer
    * cells split into a 'num' family (c_acctbal, c_nationkey) and a
    * 'txt' family; every %5 key gets 2 extra versions. num expires below
    * BaseTs+1500 (base cells AND v1 die — non-%5 num cells vanish
    * entirely) with 2 versions retained; txt keeps all ages, 1 version. */
  private def familyCompactQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val base = CellTable.fromTable(spark, sfDir, "customer")
      .withColumn("family",
        when(col("qualifier").cast("string").isin("c_acctbal", "c_nationkey"), "num")
          .otherwise("txt"))
    val versioned = CellTable.withExtraVersions(
      base, pmod(CellTable.keyToLong(col("rowKey")), lit(5)) === 0, n = 2)
    Compaction.survivorsPerFamily(versioned,
        Map(
          "num" -> Compaction.FamilyPolicy(maxVersions = 2,
            ttlWatermark = CellTable.BaseTs + 1500L),
          "txt" -> Compaction.FamilyPolicy(maxVersions = 1)),
        default = Compaction.FamilyPolicy())
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("family"),
        col("qualifier").cast("string").as("qualifier"),
        col("ts"),
        col("value").cast("string").as("value"))
  }

  /** Exact balanced split points (the RegionSplitter answer) over the
    * orders-per-customer cell population — variable per-key weights, so
    * the rank walk is non-trivial; n=8 regions. */
  private def regionSplitsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.readParquet(spark, s"$sfDir/orders.parquet")
      .select(CellTable.bigEndianKey(col("o_custkey")).as("rowKey"))
    StoreRebalance.splitPoints(cells, 8)
      .select(col("split_idx"),
        graft.functions.GraftFunctions.to_string_binary(col("split_key")).as("split_key"))
  }

  /** HBase Increment over counter cells: base = one order_count counter
    * per customer seeded at custkey%100; the delta batch derives from
    * orders (+1 order_count per order, +floor(totalprice) to a
    * spend_floor counter that does not exist yet — increments create it
    * from 0). Output: the new counter versions, values decoded. */
  private def counterIncrQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.readParquet(spark, s"$sfDir/customer.parquet")
    val base = cust.select(
      CellTable.bigEndianKey(col("c_custkey")).as("rowKey"),
      lit("counters").as("family"),
      lit("order_count").cast("binary").as("qualifier"),
      lit(CellTable.BaseTs).as("ts"),
      lit("Put").as("cellType"),
      StoreCounters.encodeCounter(pmod(col("c_custkey"), lit(100))).as("value"))
    // %9 customers' counters are DELETED before the batch: the marker
    // masks the seed value, so those resume from 0 + delta — the HBase
    // GET-visibility contract the raw max_by read used to violate
    val marked = CellTable.withDeleteMarkers(
      base,
      pmod(CellTable.keyToLong(col("rowKey")), lit(9)) === 0,
      lit(CellTable.BaseTs))
    val orders = Tables.readParquet(spark, s"$sfDir/orders.parquet")
    val deltas = orders.select(
        CellTable.bigEndianKey(col("o_custkey")).as("rowKey"),
        lit("counters").as("family"),
        lit("order_count").cast("binary").as("qualifier"),
        lit(1L).as("delta"))
      .unionByName(orders.select(
        CellTable.bigEndianKey(col("o_custkey")).as("rowKey"),
        lit("counters").as("family"),
        lit("spend_floor").cast("binary").as("qualifier"),
        floor(col("o_totalprice")).cast("bigint").as("delta")))
    StoreCounters.applyIncrements(marked, deltas, CellTable.BaseTs + 1000L)
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("qualifier").cast("string").as("qualifier"),
        StoreCounters.decodeCounter(col("value")).as("value_long"))
  }

  /** checkAndPut batch over the customer cells: promote BUILDING
    * segments (check passes only there — and NOT on %5 customers, whose
    * c_mktsegment is delete-masked, i.e. absent), stamp a c_flag cell
    * gated on its own absence (always applies), a doomed write checked
    * against a wrong expected value (always rejected), and an
    * absent-gated write on c_mktsegment that applies EXACTLY on the
    * deleted %5 rows (a marker must read as "absent", not as the
    * marker's empty value). Output: every mutation with its
    * applied/rejected decision. */
  private def checkAndPutQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val base = CellTable.withDeleteMarkers(
      CellTable.fromTable(spark, sfDir, "customer"),
      col("qualifier").cast("string") === "c_mktsegment" &&
        pmod(CellTable.keyToLong(col("rowKey")), lit(5)) === 0,
      lit(CellTable.BaseTs))
    val cust = Tables.readParquet(spark, s"$sfDir/customer.parquet")
    def mut(target: String, value: String, check: String, expected: Option[String],
        onlyEven: Boolean) = {
      val src = if (onlyEven) cust.filter(pmod(col("c_custkey"), lit(2)) === 0) else cust
      src.select(
        CellTable.bigEndianKey(col("c_custkey")).as("rowKey"),
        lit("customer").as("family"),
        lit(check).cast("binary").as("checkQualifier"),
        expected.map(e => lit(e).cast("binary")).getOrElse(lit(null).cast("binary"))
          .as("expected"),
        lit(target).cast("binary").as("qualifier"),
        lit(value).cast("binary").as("value"))
    }
    val muts = mut("c_mktsegment", "PROMOTED", "c_mktsegment", Some("BUILDING"), onlyEven = false)
      .unionByName(mut("c_flag", "NEW", "c_flag", None, onlyEven = false))
      .unionByName(mut("c_name", "X", "c_nationkey", Some("no-such-value"), onlyEven = true))
      .unionByName(mut("c_seg2", "RESET", "c_mktsegment", None, onlyEven = false))
    StoreMutations.checkAndPut(base, muts, CellTable.BaseTs + 1000L)
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("qualifier").cast("string").as("qualifier"),
        col("value").cast("string").as("value"),
        col("applied"))
  }

  /** Append batch: '#a' onto every %4 customer's c_name, plus '#b' for
    * the %8 subset — multi-append coordinates concatenate in suffix byte
    * order, so %8 rows read name#a#b. */
  private def cellAppendQuery(spark: SparkSession, sfDir: String): DataFrame = {
    // %10 customers' c_name is delete-masked → their appends start from
    // empty (deleted ≡ absent, Append creates the cell)
    val base = CellTable.withDeleteMarkers(
      CellTable.fromTable(spark, sfDir, "customer"),
      col("qualifier").cast("string") === "c_name" &&
        pmod(CellTable.keyToLong(col("rowKey")), lit(10)) === 0,
      lit(CellTable.BaseTs))
    val cust = Tables.readParquet(spark, s"$sfDir/customer.parquet")
    def app(suffix: String, mod: Int) = cust
      .filter(pmod(col("c_custkey"), lit(mod)) === 0)
      .select(
        CellTable.bigEndianKey(col("c_custkey")).as("rowKey"),
        lit("customer").as("family"),
        lit("c_name").cast("binary").as("qualifier"),
        lit(suffix).cast("binary").as("suffix"))
    val appends = app("#a", 4).unionByName(app("#b", 8))
    StoreMutations.applyAppends(base, appends, CellTable.BaseTs + 1000L)
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("qualifier").cast("string").as("qualifier"),
        col("value").cast("string").as("value"))
  }

  /** Copy verification (the reference's CopyRow closed loop): the "copy"
    * drops every custkey%17==0 row and corrupts the c_acctbal cell of
    * every remaining custkey%13==0 row; the diff reports exactly those
    * cells — 4 ONLY_SOURCE cells per dropped row, 1 VALUE_MISMATCH per
    * corrupted one. */
  private def storeDiffQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val src = CellTable.fromTable(spark, sfDir, "customer")
    val keyL = CellTable.keyToLong(col("rowKey"))
    val copied = src.filter(pmod(keyL, lit(17)) =!= 0)
      .withColumn("value",
        when(pmod(keyL, lit(13)) === 0 &&
            col("qualifier").cast("string") === "c_acctbal",
          concat(col("value").cast("string"), lit("#corrupt")).cast("binary"))
        .otherwise(col("value")))
    StoreDiff.report(src, copied)
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("qualifier").cast("string").as("qualifier"),
        col("status"))
  }

  /** ColumnPaginationFilter page: per customer row, qualifiers at
    * positions [1, 3) in byte order — of (c_acctbal, c_mktsegment,
    * c_name, c_nationkey) that is c_mktsegment and c_name. */
  private def columnPaginateQuery(spark: SparkSession, sfDir: String): DataFrame =
    Relational.columnPaginate(
        CellTable.fromTable(spark, sfDir, "customer"), offset = 1, limit = 2)
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("qualifier").cast("string").as("qualifier"),
        col("ts"),
        col("value").cast("string").as("value"))

  /** CellCounter: per-(family, qualifier) cell totals, row counts, and
    * version depth over the same multi-version injection as
    * [[cellLatestQuery]] (%10 keys carry 3 versions). */
  private def cellCountsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val base = CellTable.fromTable(spark, sfDir, "customer")
    val versioned = CellTable.withExtraVersions(
      base, pmod(CellTable.keyToLong(col("rowKey")), lit(10)) === 0, n = 2)
    StoreStats.cellCounts(versioned)
      .select(col("family"), col("qualifier").cast("string").as("qualifier"),
        col("n_cells"), col("n_rows"), col("max_versions"))
  }

  /** SyncTable repair closing the diff loop: diverge a copy the same way
    * as [[storeDiffQuery]] (drop %17 rows, corrupt %13 acctbals) plus a
    * spurious %19 `c_bogus` qualifier only the copy has, repair it back to
    * the source, read the repaired view — repaired cells carry the sync
    * timestamp, untouched cells their original one, the spurious
    * qualifier is masked away. */
  private def syncTableQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val src = CellTable.fromTable(spark, sfDir, "customer")
    val keyL = CellTable.keyToLong(col("rowKey"))
    val copied = src.filter(pmod(keyL, lit(17)) =!= 0)
      .withColumn("value",
        when(pmod(keyL, lit(13)) === 0 &&
            col("qualifier").cast("string") === "c_acctbal",
          concat(col("value").cast("string"), lit("#corrupt")).cast("binary"))
        .otherwise(col("value")))
    val bogus = src
      .filter(pmod(keyL, lit(19)) === 0 &&
        col("qualifier").cast("string") === "c_name")
      .select(col("rowKey"), col("family"),
        lit("c_bogus").cast("binary").as("qualifier"), col("ts"),
        col("cellType"), lit("spurious").cast("binary").as("value"))
    StoreSync.syncedView(src, copied.unionByName(bogus),
        syncTs = 1800000000000L)
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("qualifier").cast("string").as("qualifier"),
        col("ts"),
        col("value").cast("string").as("value"))
  }

  /** The customer cells in an 8-region layout, written once per
    * (JVM, corpus) and shared by the store scan queries. */
  private def regionStoreDir(spark: SparkSession, sfDir: String): String =
    WorkDirs.once(s"cellstore_$sfDir") { dir =>
      CellTable.writeRegionLayout(
        CellTable.fromTable(spark, sfDir, "customer"), dir, numRegions = 8)
    }

  /** DSv2 cell-store scan (S1 region splits + S2 pushdown): range-scan
    * keys [100, 200) of the region store through the `cellstore` source —
    * the filter prunes regions via parquet footer stats and row groups via
    * block stats before any row is read. */
  private def storeScanQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = regionStoreDir(spark, sfDir)
    def key(k: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(8).putLong(k).array()
    spark.read.format("cellstore").load(dir)
      .filter(col("rowKey") >= lit(key(100L)) && col("rowKey") < lit(key(200L)))
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("qualifier").cast("string").as("qualifier"),
        col("ts"),
        col("value").cast("string").as("value"))
  }

  /** MultiRowRangeFilter scan: two DISJOINT key ranges in one pass over
    * the region store — the pushed `Or(And(≥,<), And(≥,<))` expands to a
    * bounds disjunction (CellStoreSource.boundsSetOf), so only region
    * files/row groups overlapping EITHER range are read; the gap between
    * the ranges is never touched (asserted in CellStoreSourceSpec). */
  private def multiRangeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = regionStoreDir(spark, sfDir)
    def key(k: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(8).putLong(k).array()
    def range(lo: Long, hi: Long) =
      col("rowKey") >= lit(key(lo)) && col("rowKey") < lit(key(hi))
    spark.read.format("cellstore").load(dir)
      .filter(range(20L, 60L) || range(100L, 140L))
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("qualifier").cast("string").as("qualifier"),
        col("ts"),
        col("value").cast("string").as("value"))
  }

  /** FuzzyRowFilter scan (two pairs, OR semantics) over the region store:
    * pair A fixes key bytes 0-3 to zero and byte 7 to 0x2A with bytes 4-6
    * wildcarded (custkey % 256 == 42 for any custkey < 2^32 — the
    * "bucket byte fixed, id wildcarded" shape the HBase filter exists
    * for); pair B fixes bytes 0-6 with byte 6 = 0x03 and wildcards byte 7
    * (the degenerate prefix form, custkey in [768, 1024)). The derived
    * prefix-range disjunction is pushed and prunes regions/row groups
    * (FuzzyScanSpec asserts the pushed bounds); the byte-position match
    * runs as a codegen'd residual. */
  private def fuzzyScanQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = regionStoreDir(spark, sfDir)
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val pairs = Seq(
      (b(0, 0, 0, 0, 0, 0, 0, 0x2A), b(0, 0, 0, 0, 1, 1, 1, 0)),
      (b(0, 0, 0, 0, 0, 0, 0x03, 0), b(0, 0, 0, 0, 0, 0, 0, 1)))
    operators.FuzzyScan
      .fuzzyRowScan(spark.read.format("cellstore").load(dir), pairs)
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("qualifier").cast("string").as("qualifier"),
        col("ts"),
        col("value").cast("string").as("value"))
  }

  /** MOB storage round trip: document text cells at or above 300 bytes
    * live in the content-addressed side table ([[operators.MobStore]]),
    * the main store keeps small ref cells; the resolved read must hand
    * back the exact original bytes. Emitted as (key, byte length, md5,
    * is_mob) so the oracle recomputes the digests from the raw corpus —
    * any byte lost or duplicated in the split/resolve path flips a hash. */
  private def mobRoundtripQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = WorkDirs.once(s"mob_$sfDir") { dir =>
      operators.MobStore.writeMob(
        CellTable.fromTable(spark, sfDir, "documents"), dir, threshold = 300)
    }
    val resolved = operators.MobStore.readResolved(spark, dir)
      .filter(col("qualifier").cast("string") === "text")
      .select(col("rowKey"), col("value"))
    // is_mob comes from the STORAGE truth (the main store's cellType),
    // not from the resolved value's length — a regression that stored
    // every cell inline would flip these booleans and fail the hash,
    // where a length-derived flag would tautologically agree
    val flags = operators.MobStore.readMain(spark, dir)
      .filter(col("qualifier").cast("string") === "text")
      .select(col("rowKey"),
        (col("cellType") === operators.MobStore.RefType).as("is_mob"))
    resolved.join(flags, "rowKey")
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        length(col("value")).cast("bigint").as("n_bytes"),
        md5(col("value")).as("value_md5"),
        col("is_mob"))
  }

  /** The full MOB right-to-be-forgotten lifecycle, oracle-audited: purge
    * one subject class (doc_id ≡ 3 mod 10) with delete markers, major-
    * compact the main store (masked refs and markers fold away), then
    * [[operators.MobStore.reclaimMob]] physically drops the blobs only
    * that subject reached. The emitted accounting row (visible docs, big
    * docs, surviving distinct blobs, surviving blob bytes) is recomputed
    * by DuckDB from the raw corpus minus the subject — a blob leaked or
    * over-deleted anywhere in the pipeline flips a count. */
  private def mobReclaimQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = WorkDirs.once(s"mob_gc_$sfDir") { dir =>
      val cells = CellTable.fromTable(spark, sfDir, "documents")
      operators.MobStore.writeMob(cells, dir, threshold = 300)
      val markers = CellTable.withDeleteMarkers(
          cells.filter(pmod(CellTable.keyToLong(col("rowKey")), lit(10)) === 3),
          lit(true), lit(CellTable.BaseTs + 10))
        .filter(col("cellType") === "Delete")
      markers.write.format("cellstore").mode("append")
        .option("numRegions", "8").save(s"$dir/main")
      operators.MobStore.compactMain(spark, dir, maxVersions = 1)
      operators.MobStore.reclaimMob(spark, dir)
    }
    val visTexts = CellTable.visibleLatest(
        operators.MobStore.readResolved(spark, dir))
      .filter(col("qualifier").cast("string") === "text")
    val docs = visTexts.agg(
      count(lit(1)).as("n_docs"),
      count(when(length(col("value")) >= 300, 1)).as("n_big"))
    val blobs = spark.read.parquet(s"$dir/mob").agg(
      count(lit(1)).as("n_blobs"),
      sum(col("mob_len")).as("blob_bytes"))
    docs.crossJoin(blobs) // both sides are single aggregate rows
  }

  /** ColumnRangeFilter scan over a WIDE-ROW store: events laid out one
    * logical row per user with one CELL per event (qualifier = 8-byte
    * big-endian event_id), so a qualifier byte range is pushed and prunes
    * row groups whose column slice lies outside it — the shape HBase's
    * ColumnRangeFilter serves on wide rows (QualifierPruningSpec measures
    * the chunk pruning; this query pins the semantics to DuckDB). */
  private def qualRangeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = WorkDirs.once(s"widecells_$sfDir") { dir =>
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      CellTable.writeRegionLayout(
        ev.select(
          CellTable.bigEndianKey(col("user_id")).as("rowKey"),
          lit("events").as("family"),
          CellTable.bigEndianKey(col("event_id")).as("qualifier"),
          lit(CellTable.BaseTs).as("ts"),
          lit("Put").as("cellType"),
          col("event_type").cast("string").cast("binary").as("value")),
        dir, numRegions = 8)
    }
    def k(v: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(8).putLong(v).array()
    spark.read.format("cellstore").load(dir)
      .filter(col("qualifier") >= lit(k(100L)) && col("qualifier") < lit(k(700L)))
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        graft.functions.GraftFunctions.to_string_binary(col("qualifier")).as("qualifier"),
        col("ts"),
        col("value").cast("string").as("value"))
  }

  /** Composite-rowkey cell table (HBase multi-component keys): lineitem's
    * key is `l_orderkey‖l_linenumber`, each 8-byte big-endian, so a range
    * on the LEADING component is a plain prefix byte-range scan — pushed
    * into the parquet read like any single-component key. */
  private def cellCompositeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = CellTable.fromTable(spark, sfDir, "lineitem")
    def k(orderkey: Long, line: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(16).putLong(orderkey).putLong(line).array()
    cells
      .filter(col("rowKey") >= lit(k(100L, 0L)) && col("rowKey") < lit(k(200L, 0L)))
      .filter(col("qualifier").cast("string").isin("l_returnflag", "l_suppkey"))
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("qualifier").cast("string").as("qualifier"),
        col("ts"),
        col("value").cast("string").as("value"))
  }

  /** Storage-partitioned join over two SALTED cell stores (the HBase
    * salted-table layout): both stores bucketed `bucket(8, rowKey)` via the
    * DSv2 writer, registered through [[graft.sources.CellStoreCatalog]] so
    * Spark's SPJ machinery resolves the bucket transform — with
    * `spark.sql.sources.v2.bucketing.enabled` the equi-join on rowKey
    * needs NO exchange on either side (asserted in CellStoreJoinSpec). */
  private def storeJoinQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val base = WorkDirs.once(s"spj_$sfDir") { base =>
      val cells = CellTable.fromTable(spark, sfDir, "customer")
      cells.write.format("cellstore")
        .option("buckets", "8").mode("overwrite").save(s"$base/cust")
      cells.filter(col("qualifier").cast("string") === "c_mktsegment")
        .withColumn("family", lit("audit"))
        .write.format("cellstore")
        .option("buckets", "8").mode("overwrite").save(s"$base/audit")
    }
    spark.conf.set("spark.sql.catalog.graftcells",
      classOf[graft.sources.CellStoreCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcells.root", base)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val a = spark.table("graftcells.cust")
      .filter(col("qualifier").cast("string") === "c_name")
      .select(col("rowKey"), col("value").cast("string").as("name"))
    val b = spark.table("graftcells.audit")
      .select(col("rowKey"), col("value").cast("string").as("segment"))
    a.join(b, "rowKey")
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("name"), col("segment"))
  }

  /** Grouped-aggregate pushdown over the cell store: per-rowKey version
    * count and ts bounds answered by the scan's run-length partial
    * aggregation (CellStoreGroupByScan) — the store never decodes
    * qualifier/value bytes. The store carries injected extra versions
    * (keys ≡ 0 mod 10) so the aggregates are non-trivial. */
  private def storeGroupByQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = WorkDirs.once(s"cellstore_gb_$sfDir") { dir =>
      val base = CellTable.fromTable(spark, sfDir, "customer")
      val versioned = CellTable.withExtraVersions(
        base, pmod(CellTable.keyToLong(col("rowKey")), lit(10)) === 0, n = 2)
      CellTable.writeRegionLayout(versioned, dir, numRegions = 8)
    }
    spark.read.format("cellstore").load(dir)
      .groupBy("rowKey")
      .agg(
        count(lit(1)).as("n_cells"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"))
      .select(
        graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("row_key"),
        col("n_cells"), col("min_ts"), col("max_ts"))
  }

  /** Z-order layout scan: lineitem clustered on (l_partkey, l_suppkey) —
    * a 2-dim box filter a single-key sort can't serve; parquet min/max
    * stats prune on BOTH dimensions (ZOrderSpec measures the per-file
    * tightness; here the oracle checks the layout loses no rows). */
  private def zorderScanQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = WorkDirs.once(s"zorder_$sfDir") { dir =>
      operators.ZOrderLayout.write(
        Tables.readParquet(spark, s"$sfDir/lineitem.parquet")
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"),
        "l_partkey", "l_suppkey", dir, numFiles = 16)
    }
    spark.read.parquet(dir)
      .filter(col("l_partkey").between(50, 150) && col("l_suppkey").between(2, 6))
  }

  /** CorruptRows pipeline over the cell table: negative account balance
    * poisons the row; output = the reference's (row_key, error) TSV record. */
  private def corruptScanQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = CellTable.fromTable(spark, sfDir, "customer")
    val poisoned = col("qualifier").cast("string") === "c_acctbal" &&
      col("value").cast("string").cast("double") < 0
    CorruptScan.pipeline(cells, poisoned)
  }

  /** The engine's SQL surface driven end-to-end through `spark.sql` — the
    * registered functions ([[graft.functions.GraftFunctionRegistry]], same
    * table `GraftExtensions` injects), a temp view, no Column API. The
    * codec pair round-trips every rendered key; the oracle replicates the
    * `\xHH` rendering ([[rowKeySql]]). */
  private def sqlSurfaceQuery(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctionRegistry.registerAll(spark)
    Tables.readParquet(spark, s"$sfDir/orders.parquet")
      .createOrReplaceTempView("graft_orders_v")
    spark.sql(
      """SELECT o_orderkey,
        |       to_string_binary(unhex(lpad(hex(o_orderkey), 16, '0'))) AS row_key,
        |       length(to_bytes_binary(
        |         to_string_binary(unhex(lpad(hex(o_orderkey), 16, '0'))))) AS key_len
        |FROM graft_orders_v
        |WHERE o_orderkey <= 800""".stripMargin)
  }

  /** `to_string_binary(bigEndianKey(key))` in DuckDB: render each of the 8
    * big-endian bytes — printable ASCII (0x20..0x7E, not backslash)
    * verbatim, else `\xHH` uppercase (BytesBinaryCodec.encode). */
  private def rowKeySql(key: String): String =
    s"""list_aggregate(list_transform(range(8), i ->
          CASE WHEN (($key >> ((7-i)*8)) & 255) BETWEEN 32 AND 126
                AND (($key >> ((7-i)*8)) & 255) != 92
               THEN chr(CAST((($key >> ((7-i)*8)) & 255) AS INTEGER))
               ELSE printf('\\x%02X', (($key >> ((7-i)*8)) & 255)) END),
        'string_agg', '')"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_sql_surface", sqlSurfaceQuery _, sql(
      s"""SELECT o_orderkey, ${rowKeySql("o_orderkey")} AS row_key,
          CAST(8 AS INTEGER) AS key_len
          FROM orders WHERE o_orderkey <= 800""")),
    QueryDef("q_zorder_scan", zorderScanQuery _, sql(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem
         WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 2 AND 6""")),
    // CorruptScan over the derived customer cell table: a negative account
    // balance poisons the row; the TSV record is (rendered key, normalized
    // first-line message).
    QueryDef("q_corrupt_scan", corruptScanQuery _, sql(
      s"""SELECT ${rowKeySql("c_custkey")} AS row_key,
                 'CorruptCellException, message: poisoned cell value' AS error
          FROM customer WHERE c_acctbal < 0""")),
    // CopyRow of customer 42 with ts override: one cell per non-key column,
    // values rendered exactly as Spark's CAST(x AS STRING).
    QueryDef("q_copy_row", copyRowQuery _, sql(
      """WITH c AS (SELECT * FROM customer WHERE c_custkey = 42)
         SELECT '\x00\x00\x00\x00\x00\x00\x00*' AS row_key, 'customer' AS family,
                'c_name' AS qualifier, CAST(1717200000000 AS BIGINT) AS ts,
                'Put' AS cellType, c_name AS value FROM c
         UNION ALL SELECT '\x00\x00\x00\x00\x00\x00\x00*', 'customer', 'c_nationkey',
                1717200000000, 'Put', CAST(c_nationkey AS VARCHAR) FROM c
         UNION ALL SELECT '\x00\x00\x00\x00\x00\x00\x00*', 'customer', 'c_acctbal',
                1717200000000, 'Put', CAST(c_acctbal AS VARCHAR) FROM c
         UNION ALL SELECT '\x00\x00\x00\x00\x00\x00\x00*', 'customer', 'c_mktsegment',
                1717200000000, 'Put', c_mktsegment FROM c""")),
    // Multi-version cell read: keys ≡ 0 (mod 10) carry two extra versions;
    // latest-version-wins ⇒ ts+2000 and the "#v2" value suffix for those.
    QueryDef("q_cell_latest", cellLatestQuery _, sql(
      s"""WITH c AS (
            SELECT *, ${rowKeySql("c_custkey")} AS rk,
                   CASE WHEN c_custkey % 10 = 0 THEN 1700000002000 ELSE 1700000000000 END AS vts,
                   CASE WHEN c_custkey % 10 = 0 THEN '#v2' ELSE '' END AS sfx
            FROM customer)
          SELECT rk AS row_key, 'c_name' AS qualifier, CAST(vts AS BIGINT) AS ts,
                 c_name || sfx AS value FROM c
          UNION ALL SELECT rk, 'c_nationkey', vts, CAST(c_nationkey AS VARCHAR) || sfx FROM c
          UNION ALL SELECT rk, 'c_acctbal', vts, CAST(c_acctbal AS VARCHAR) || sfx FROM c
          UNION ALL SELECT rk, 'c_mktsegment', vts, c_mktsegment || sfx FROM c""")),
    // TimeRange read as of BaseTs+1200: v2 (+2000) not yet written, the
    // %7 markers (+1500) not yet masking -> %10 keys read v1, the rest
    // their base version. Markers never appear in the oracle because the
    // as-of filter excludes them by construction.
    // TTL read at now=base+2500, ttl=2000: base-ts cells expired
    // everywhere; %10 keys keep v2 (base+2000) unless a %7 marker at
    // base+2200 masks it — so survivors are %10 minus %70 keys, at v2
    QueryDef("q_cell_ttl", cellTtlQuery _, sql(
      s"""WITH c AS (
            SELECT *, ${rowKeySql("c_custkey")} AS rk
            FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 7 <> 0)
          SELECT rk AS row_key, 'c_name' AS qualifier,
                 CAST(1700000002000 AS BIGINT) AS ts,
                 c_name || '#v2' AS value FROM c
          UNION ALL SELECT rk, 'c_nationkey', 1700000002000,
                 CAST(c_nationkey AS VARCHAR) || '#v2' FROM c
          UNION ALL SELECT rk, 'c_acctbal', 1700000002000,
                 CAST(c_acctbal AS VARCHAR) || '#v2' FROM c
          UNION ALL SELECT rk, 'c_mktsegment', 1700000002000,
                 c_mktsegment || '#v2' FROM c""")),
    QueryDef("q_cell_asof", cellAsOfQuery _, sql(
      s"""WITH c AS (
            SELECT *, ${rowKeySql("c_custkey")} AS rk,
                   CASE WHEN c_custkey % 10 = 0 THEN 1700000001000 ELSE 1700000000000 END AS vts,
                   CASE WHEN c_custkey % 10 = 0 THEN '#v1' ELSE '' END AS sfx
            FROM customer)
          SELECT rk AS row_key, 'c_name' AS qualifier, CAST(vts AS BIGINT) AS ts,
                 c_name || sfx AS value FROM c
          UNION ALL SELECT rk, 'c_nationkey', vts, CAST(c_nationkey AS VARCHAR) || sfx FROM c
          UNION ALL SELECT rk, 'c_acctbal', vts, CAST(c_acctbal AS VARCHAR) || sfx FROM c
          UNION ALL SELECT rk, 'c_mktsegment', vts, c_mktsegment || sfx FROM c""")),
    // VERSIONS=2 read: every version enumerated, newest-first rank per
    // (key, qualifier), kept while rank <= 2.
    QueryDef("q_cell_versions", cellVersionsQuery _, sql(
      s"""WITH c AS (
            SELECT *, ${rowKeySql("c_custkey")} AS rk, c_custkey AS ck FROM customer),
          q AS (
            SELECT rk, ck, 'c_name' AS q, c_name AS bv FROM c
            UNION ALL SELECT rk, ck, 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM c
            UNION ALL SELECT rk, ck, 'c_acctbal', CAST(c_acctbal AS VARCHAR) FROM c
            UNION ALL SELECT rk, ck, 'c_mktsegment', c_mktsegment FROM c),
          cells AS (
            SELECT rk, q, CAST(1700000000000 AS BIGINT) AS ts, bv AS v FROM q
            UNION ALL SELECT rk, q, 1700000001000, bv || '#v1' FROM q WHERE ck % 10 = 0
            UNION ALL SELECT rk, q, 1700000002000, bv || '#v2' FROM q WHERE ck % 10 = 0),
          r AS (SELECT *, row_number() OVER
                  (PARTITION BY rk, q ORDER BY ts DESC) AS rn FROM cells)
          SELECT rk AS row_key, q AS qualifier, ts, v AS value,
                 CAST(rn AS BIGINT) AS version_rank
          FROM r WHERE rn <= 2""")),
    // Wide-row view, scalar-rendered: entries sorted by (qualifier, value)
    // struct order on BOTH sides (Spark array_sort of struct ≡ DuckDB
    // list_sort of struct_pack), then joined `q=v` with the 0x1f unit
    // separator — the same derivation the engine applies to the MapType
    // view, but atomic-typed so the oracle's pandas canonicalizer can
    // sort it (a raw MAP column was round 9's one red row).
    QueryDef("q_wide_row", wideRowQuery _, sql(
      s"""WITH c AS (
            SELECT *, ${rowKeySql("c_custkey")} AS rk,
                   CASE WHEN c_custkey % 10 = 0 THEN 1700000002000 ELSE 1700000000000 END AS vts,
                   CASE WHEN c_custkey % 10 = 0 THEN '#v2' ELSE '' END AS sfx
            FROM customer),
          cells AS (
            SELECT rk, 'c_name' AS q, vts AS ts, c_name || sfx AS v FROM c
            UNION ALL SELECT rk, 'c_nationkey', vts, CAST(c_nationkey AS VARCHAR) || sfx FROM c
            UNION ALL SELECT rk, 'c_acctbal', vts, CAST(c_acctbal AS VARCHAR) || sfx FROM c
            UNION ALL SELECT rk, 'c_mktsegment', vts, c_mktsegment || sfx FROM c)
          SELECT rk AS row_key, 'customer' AS family,
                 array_to_string(
                   list_transform(
                     list_sort(list(struct_pack(key := q, value := v))),
                     e -> e.key || '=' || e.value),
                   chr(31)) AS columns,
                 CAST(count(*) AS BIGINT) AS n_cols,
                 CAST(max(ts) AS BIGINT) AS ts
          FROM cells GROUP BY rk""")),
    // Wide-row consumer: predicates and projections THROUGH the map view,
    // on the rendered value strings so both engines share the derivation.
    QueryDef("q_wide_filter", wideFilterQuery _, sql(
      s"""WITH c AS (
            SELECT *, ${rowKeySql("c_custkey")} AS rk,
                   CASE WHEN c_custkey % 10 = 0 THEN 1700000002000 ELSE 1700000000000 END AS vts,
                   CASE WHEN c_custkey % 10 = 0 THEN '#v2' ELSE '' END AS sfx
            FROM customer)
          SELECT rk AS row_key,
                 c_name || sfx AS name,
                 CAST(c_acctbal AS VARCHAR) || sfx AS acctbal,
                 CAST(4 AS BIGINT) AS n_cols,
                 CAST(vts AS BIGINT) AS ts
          FROM c
          WHERE starts_with(c_mktsegment, 'MACHINERY')
            AND starts_with(CAST(c_acctbal AS VARCHAR), '-')""")),
    // Per-family compaction: txt keeps newest of all ages, num's TTL
    // (BaseTs+1500) kills base cells and v1 so only %5 keys' v2 survive.
    QueryDef("q_family_compact", familyCompactQuery _, sql(
      s"""WITH c AS (SELECT *, ${rowKeySql("c_custkey")} AS rk,
                   CASE WHEN c_custkey % 5 = 0 THEN 1700000002000 ELSE 1700000000000 END AS vts,
                   CASE WHEN c_custkey % 5 = 0 THEN '#v2' ELSE '' END AS sfx
            FROM customer)
          SELECT rk AS row_key, 'txt' AS family, 'c_name' AS qualifier,
                 CAST(vts AS BIGINT) AS ts, c_name || sfx AS value FROM c
          UNION ALL SELECT rk, 'txt', 'c_mktsegment', vts, c_mktsegment || sfx FROM c
          UNION ALL SELECT rk, 'num', 'c_acctbal', 1700000002000,
                 CAST(c_acctbal AS VARCHAR) || '#v2' FROM c WHERE c_custkey % 5 = 0
          UNION ALL SELECT rk, 'num', 'c_nationkey', 1700000002000,
                 CAST(c_nationkey AS VARCHAR) || '#v2' FROM c WHERE c_custkey % 5 = 0""")),
    // Exact split points: key k owns split i iff rank ⌈i·R/8⌉ lands in
    // (cum−nc, cum] — replicated with the same integer arithmetic.
    QueryDef("q_region_splits", regionSplitsQuery _, sql(
      s"""WITH kc AS (SELECT o_custkey AS k, count(*) AS nc FROM orders GROUP BY 1),
          c AS (SELECT k, nc, sum(nc) OVER (ORDER BY k) AS cum FROM kc),
          g AS (SELECT sum(nc) AS r FROM kc),
          b AS (SELECT k, nc, cum, cum - nc AS prev, r FROM c CROSS JOIN g),
          s AS (SELECT k, unnest(generate_series(
                  CAST((prev*8)//r + 1 AS BIGINT),
                  CAST(least((cum*8)//r, 7) AS BIGINT))) AS split_idx
                FROM b WHERE (prev*8)//r + 1 <= least((cum*8)//r, 7))
          SELECT split_idx, ${rowKeySql("k")} AS split_key FROM s""")),
    // Increment semantics: per customer with orders, order_count = seed +
    // n_orders (seed custkey%100), spend_floor created from 0.
    QueryDef("q_counter_incr", counterIncrQuery _, sql(
      s"""WITH d AS (
            SELECT o_custkey AS k, 'order_count' AS qualifier,
                   CAST(count(*) AS BIGINT) AS delta
            FROM orders GROUP BY 1
            UNION ALL
            SELECT o_custkey, 'spend_floor',
                   CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
            FROM orders GROUP BY 1)
          SELECT ${rowKeySql("k")} AS row_key, qualifier,
                 -- %9 customers' order_count seed is delete-masked: those
                 -- counters resume from 0, exactly like a missing cell
                 CASE WHEN qualifier = 'order_count' AND k % 9 <> 0
                      THEN k % 100 ELSE 0 END
                   + delta AS value_long
          FROM d""")),
    // checkAndPut: decision per mutation — segment promotion passes only
    // on BUILDING and NOT on the delete-masked %5 rows (deleted = absent),
    // absent-gated c_flag always passes, wrong-expected c_name write
    // always rejects, absent-gated c_seg2 passes exactly on the deleted
    // %5 rows.
    QueryDef("q_check_and_put", checkAndPutQuery _, sql(
      s"""WITH c AS (SELECT *, ${rowKeySql("c_custkey")} AS rk FROM customer)
          SELECT rk AS row_key, 'c_mktsegment' AS qualifier,
                 'PROMOTED' AS value,
                 c_mktsegment = 'BUILDING' AND c_custkey % 5 <> 0 AS applied FROM c
          UNION ALL SELECT rk, 'c_flag', 'NEW', TRUE FROM c
          UNION ALL SELECT rk, 'c_name', 'X', FALSE FROM c WHERE c_custkey % 2 = 0
          UNION ALL SELECT rk, 'c_seg2', 'RESET', c_custkey % 5 = 0 FROM c""")),
    // Append: %4 customers read name#a, the %8 subset name#a#b (suffixes
    // concatenate in byte order); the delete-masked %10 rows append onto
    // EMPTY (deleted = absent).
    QueryDef("q_cell_append", cellAppendQuery _, sql(
      s"""SELECT ${rowKeySql("c_custkey")} AS row_key, 'c_name' AS qualifier,
                 CASE WHEN c_custkey % 10 = 0 THEN '' ELSE c_name END
                   || CASE WHEN c_custkey % 8 = 0 THEN '#a#b' ELSE '#a' END AS value
          FROM customer WHERE c_custkey % 4 = 0""")),
    // Copy-verification diff: dropped rows surface one ONLY_SOURCE cell
    // per qualifier, corrupted rows one VALUE_MISMATCH on c_acctbal.
    QueryDef("q_store_diff", storeDiffQuery _, sql(
      s"""WITH c AS (SELECT *, ${rowKeySql("c_custkey")} AS rk FROM customer)
          SELECT rk AS row_key, q.q AS qualifier, 'ONLY_SOURCE' AS status
          FROM c CROSS JOIN (VALUES ('c_name'), ('c_nationkey'),
            ('c_acctbal'), ('c_mktsegment')) q(q)
          WHERE c_custkey % 17 = 0
          UNION ALL
          SELECT rk, 'c_acctbal', 'VALUE_MISMATCH' FROM c
          WHERE c_custkey % 13 = 0 AND c_custkey % 17 <> 0""")),
    // ColumnPaginationFilter: the page [1, 3) of the byte-ordered
    // qualifiers is (c_mktsegment, c_name) for every customer row.
    QueryDef("q_col_paginate", columnPaginateQuery _, sql(
      s"""WITH c AS (SELECT *, ${rowKeySql("c_custkey")} AS rk FROM customer)
          SELECT rk AS row_key, 'c_mktsegment' AS qualifier,
                 CAST(1700000000000 AS BIGINT) AS ts, c_mktsegment AS value FROM c
          UNION ALL
          SELECT rk, 'c_name', CAST(1700000000000 AS BIGINT), c_name FROM c""")),
    // CellCounter: per-qualifier cell totals over the %10 three-version
    // injection — 4 qualifiers, uniform counts, version depth 3.
    QueryDef("q_cell_counts", cellCountsQuery _, sql(
      """WITH q AS (SELECT unnest(['c_name','c_nationkey','c_acctbal','c_mktsegment']) AS qualifier),
          c AS (SELECT c_custkey, CASE WHEN c_custkey % 10 = 0 THEN 3 ELSE 1 END AS v FROM customer)
          SELECT 'customer' AS family, q.qualifier,
                 CAST(sum(v) AS BIGINT) AS n_cells,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(max(v) AS BIGINT) AS max_versions
          FROM c CROSS JOIN q GROUP BY 1, 2""")),
    // SyncTable repair: after the repair batch, the destination's visible
    // view is exactly the source's cells; coordinates the copy dropped
    // (%17 rows) or corrupted (%13 acctbals) read at the sync timestamp,
    // everything else at the original; the spurious qualifier is gone.
    QueryDef("q_sync_table", syncTableQuery _, sql(
      s"""WITH c AS (SELECT *, ${rowKeySql("c_custkey")} AS rk FROM customer),
          cells AS (
            SELECT c_custkey AS k, rk, 'c_name' AS qualifier, c_name AS value FROM c
            UNION ALL SELECT c_custkey, rk, 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM c
            UNION ALL SELECT c_custkey, rk, 'c_acctbal', CAST(c_acctbal AS VARCHAR) FROM c
            UNION ALL SELECT c_custkey, rk, 'c_mktsegment', c_mktsegment FROM c)
          SELECT rk AS row_key, qualifier,
                 CAST(CASE WHEN k % 17 = 0
                             OR (k % 13 = 0 AND qualifier = 'c_acctbal')
                      THEN 1800000000000 ELSE 1700000000000 END AS BIGINT) AS ts,
                 value
          FROM cells""")),
    // Secondary value index: the lookup returns exactly the base cells
    // holding the value — for 'BUILDING' that is each matching customer's
    // c_mktsegment cell at the base timestamp.
    QueryDef("q_value_lookup", ValueIndex.valueLookupQuery _, sql(
      s"""SELECT ${rowKeySql("c_custkey")} AS row_key,
               'c_mktsegment' AS qualifier,
               CAST(1700000000000 AS BIGINT) AS ts,
               c_mktsegment AS value
          FROM customer WHERE c_mktsegment = 'BUILDING'""")),
    // Index-served rewrite: the engine runs a PLAIN value-equality filter
    // and the ValueIndexRewrite rule swaps in the index probe — the hash
    // match against the same SQL proves the rewritten plan is equivalent.
    QueryDef("q_index_served", ValueIndex.indexServedQuery _, sql(
      s"""SELECT ${rowKeySql("c_custkey")} AS row_key,
               'c_mktsegment' AS qualifier,
               CAST(1700000000000 AS BIGINT) AS ts,
               c_mktsegment AS value
          FROM customer WHERE c_mktsegment = 'BUILDING'""")),
    // Delete-marker visibility: same versions, a marker at BaseTs+1500 on
    // custkey%7==0 — masks the base Put (and v1) but not v2, so %7-only
    // rows vanish and %7∧%10 rows still answer with their v2 cell.
    QueryDef("q_cell_visible", cellVisibleQuery _, sql(
      s"""WITH c AS (
            SELECT *, ${rowKeySql("c_custkey")} AS rk,
                   CASE WHEN c_custkey % 10 = 0 THEN 1700000002000 ELSE 1700000000000 END AS vts,
                   CASE WHEN c_custkey % 10 = 0 THEN '#v2' ELSE '' END AS sfx
            FROM customer
            WHERE NOT (c_custkey % 7 = 0 AND c_custkey % 10 <> 0))
          SELECT rk AS row_key, 'c_name' AS qualifier, CAST(vts AS BIGINT) AS ts,
                 c_name || sfx AS value FROM c
          UNION ALL SELECT rk, 'c_nationkey', vts, CAST(c_nationkey AS VARCHAR) || sfx FROM c
          UNION ALL SELECT rk, 'c_acctbal', vts, CAST(c_acctbal AS VARCHAR) || sfx FROM c
          UNION ALL SELECT rk, 'c_mktsegment', vts, c_mktsegment || sfx FROM c""")),
    // Visibility labels: same per-qualifier label expressions, evaluated
    // independently with DuckDB list functions (DNF: any '|' term whose
    // '&' atoms all hold; '!' negates; '' is public) under auths
    // {internal, marketing}.
    QueryDef("q_cell_acl", cellAclQuery _, sql(
      s"""WITH c AS (SELECT *, ${rowKeySql("c_custkey")} AS rk FROM customer),
          cells AS (
            SELECT rk, 'c_name' AS qualifier, c_name AS value,
                   CASE WHEN c_custkey % 3 = 0 THEN 'pii'
                        WHEN c_custkey % 3 = 1 THEN '!restricted&internal'
                        ELSE '' END AS vis FROM c
            UNION ALL SELECT rk, 'c_nationkey', CAST(c_nationkey AS VARCHAR), '!partner' FROM c
            UNION ALL SELECT rk, 'c_acctbal', CAST(c_acctbal AS VARCHAR), 'finance&internal' FROM c
            UNION ALL SELECT rk, 'c_mktsegment', c_mktsegment, 'marketing|finance' FROM c)
          SELECT rk AS row_key, qualifier, value FROM cells
          WHERE vis = '' OR len(list_filter(str_split(vis, '|'), t ->
            len(list_filter(str_split(t, '&'), x ->
              NOT (CASE WHEN x[1] = '!'
                        THEN NOT list_contains(['internal','marketing'], x[2:])
                        ELSE list_contains(['internal','marketing'], x) END))) = 0)) > 0""")),
    // DSv2 cellstore range scan: keys [100, 200), one cell per non-key
    // customer column, base timestamps (no version injection here).
    QueryDef("q_store_scan", storeScanQuery _, sql(
      s"""WITH c AS (
            SELECT *, ${rowKeySql("c_custkey")} AS rk
            FROM customer WHERE c_custkey >= 100 AND c_custkey < 200)
          SELECT rk AS row_key, 'c_name' AS qualifier,
                 CAST(1700000000000 AS BIGINT) AS ts, c_name AS value FROM c
          UNION ALL SELECT rk, 'c_nationkey', 1700000000000, CAST(c_nationkey AS VARCHAR) FROM c
          UNION ALL SELECT rk, 'c_acctbal', 1700000000000, CAST(c_acctbal AS VARCHAR) FROM c
          UNION ALL SELECT rk, 'c_mktsegment', 1700000000000, c_mktsegment FROM c""")),
    // MultiRowRangeFilter: union of the two disjoint ranges
    QueryDef("q_multi_range", multiRangeQuery _, sql(
      s"""WITH c AS (
            SELECT *, ${rowKeySql("c_custkey")} AS rk
            FROM customer
            WHERE (c_custkey >= 20 AND c_custkey < 60)
               OR (c_custkey >= 100 AND c_custkey < 140))
          SELECT rk AS row_key, 'c_name' AS qualifier,
                 CAST(1700000000000 AS BIGINT) AS ts, c_name AS value FROM c
          UNION ALL SELECT rk, 'c_nationkey', 1700000000000, CAST(c_nationkey AS VARCHAR) FROM c
          UNION ALL SELECT rk, 'c_acctbal', 1700000000000, CAST(c_acctbal AS VARCHAR) FROM c
          UNION ALL SELECT rk, 'c_mktsegment', 1700000000000, c_mktsegment FROM c""")),
    // FuzzyRowFilter: pair A = low byte 0x2A with bytes 0-3 fixed zero
    // (custkey % 256 = 42; custkey < 2^32 holds at every SF), pair B =
    // full 7-byte prefix with byte 6 = 0x03 (custkey in [768, 1024))
    QueryDef("q_fuzzy_scan", fuzzyScanQuery _, sql(
      s"""WITH c AS (
            SELECT *, ${rowKeySql("c_custkey")} AS rk
            FROM customer
            WHERE (c_custkey % 256 = 42)
               OR (c_custkey >= 768 AND c_custkey < 1024))
          SELECT rk AS row_key, 'c_name' AS qualifier,
                 CAST(1700000000000 AS BIGINT) AS ts, c_name AS value FROM c
          UNION ALL SELECT rk, 'c_nationkey', 1700000000000, CAST(c_nationkey AS VARCHAR) FROM c
          UNION ALL SELECT rk, 'c_acctbal', 1700000000000, CAST(c_acctbal AS VARCHAR) FROM c
          UNION ALL SELECT rk, 'c_mktsegment', 1700000000000, c_mktsegment FROM c""")),
    // MOB round trip: digests recomputed from the raw corpus — resolution
    // must reproduce the exact original bytes for every document
    QueryDef("q_mob_roundtrip", mobRoundtripQuery _, sql(
      s"""SELECT ${rowKeySql("doc_id")} AS row_key,
                 octet_length(encode(text)) AS n_bytes,
                 md5(text) AS value_md5,
                 octet_length(encode(text)) >= 300 AS is_mob
          FROM documents""")),
    // MOB purge lifecycle: the oracle recomputes the surviving-store
    // accounting from the raw corpus minus the purged subject class
    QueryDef("q_mob_reclaim", mobReclaimQuery _, sql(
      s"""WITH kept AS (
            SELECT * FROM documents WHERE doc_id % 10 != 3),
          big AS (
            SELECT DISTINCT md5(text) AS h,
                   octet_length(encode(text)) AS len
            FROM kept WHERE octet_length(encode(text)) >= 300)
          SELECT (SELECT count(*) FROM kept) AS n_docs,
                 (SELECT count(*) FROM kept
                   WHERE octet_length(encode(text)) >= 300) AS n_big,
                 (SELECT count(*) FROM big) AS n_blobs,
                 (SELECT CAST(sum(len) AS BIGINT) FROM big) AS blob_bytes""")),
    // ColumnRangeFilter over the wide-row events store: qualifier is the
    // big-endian event_id, so the byte range is the id range
    QueryDef("q_qual_range", qualRangeQuery _, sql(
      s"""SELECT ${rowKeySql("user_id")} AS row_key,
                 ${rowKeySql("event_id")} AS qualifier,
                 CAST(1700000000000 AS BIGINT) AS ts,
                 event_type AS value
          FROM events WHERE event_id >= 100 AND event_id < 700""")),
    // composite rowKey rendered as the two concatenated big-endian halves
    QueryDef("q_cell_composite", cellCompositeQuery _, sql(
      s"""WITH l AS (
            SELECT *, ${rowKeySql("l_orderkey")} || ${rowKeySql("CAST(l_linenumber AS BIGINT)")} AS rk
            FROM lineitem WHERE l_orderkey >= 100 AND l_orderkey < 200)
          SELECT rk AS row_key, 'l_returnflag' AS qualifier,
                 CAST(1700000000000 AS BIGINT) AS ts, l_returnflag AS value FROM l
          UNION ALL SELECT rk, 'l_suppkey', 1700000000000, CAST(l_suppkey AS VARCHAR) FROM l""")),
    // per-key cell count and ts bounds: 4 cells per customer, ×3 versions
    // (ts +1000, +2000) for keys ≡ 0 (mod 10) via withExtraVersions(n=2)
    QueryDef("q_store_groupby", storeGroupByQuery _, sql(
      s"""SELECT ${rowKeySql("c_custkey")} AS row_key,
                 CAST(CASE WHEN c_custkey % 10 = 0 THEN 12 ELSE 4 END AS BIGINT) AS n_cells,
                 CAST(1700000000000 AS BIGINT) AS min_ts,
                 CAST(CASE WHEN c_custkey % 10 = 0 THEN 1700000002000
                      ELSE 1700000000000 END AS BIGINT) AS max_ts
          FROM customer""")),
    // both stores derive from customer, so the SPJ result is just customer
    QueryDef("q_store_join", storeJoinQuery _, sql(
      s"""SELECT ${rowKeySql("c_custkey")} AS row_key,
                 c_name AS name, c_mktsegment AS segment
          FROM customer""")),
  )
}
