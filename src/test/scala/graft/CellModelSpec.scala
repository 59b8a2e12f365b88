package graft

import graft.model.CellTable
import graft.operators.{CopyRow, CorruptScan}
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cell model + CopyRow + CorruptScan goldens (SURVEY.md §5 items 1, 3). */
class CellModelSpec extends AnyFunSuite with SparkTestBase {

  private lazy val cells = CellTable.fromTable(spark, sf001, "customer").cache()

  test("derivation: one cell per (row, non-key column), key is 8-byte big-endian") {
    val customer = spark.read.parquet(s"$sf001/customer.parquet")
    val nRows = customer.count()
    val nValueCols = customer.columns.length - 1
    assert(cells.count() == nRows * nValueCols)
    val k = cells.select("rowKey").as(org.apache.spark.sql.Encoders.BINARY).head()
    assert(k.length == 8)
  }

  test("key order: sorting cells by rowKey equals sorting customers by key") {
    val sortedKeys = cells.select("rowKey").distinct()
      .orderBy("rowKey")
      .as(org.apache.spark.sql.Encoders.BINARY).collect()
      .map(b => java.nio.ByteBuffer.wrap(b).getLong)
    assert(sortedKeys.toSeq == sortedKeys.toSeq.sorted)
  }

  test("composite key: lineitem rowKey is orderkey‖linenumber, ordered componentwise") {
    val li = CellTable.fromTable(spark, sf001, "lineitem")
    val keys = li.select("rowKey").distinct()
      .orderBy("rowKey")
      .as(org.apache.spark.sql.Encoders.BINARY).collect()
    assert(keys.head.length == 16)
    val decoded = keys.map { b =>
      val bb = java.nio.ByteBuffer.wrap(b); (bb.getLong, bb.getLong)
    }
    assert(decoded.toSeq == decoded.toSeq.sorted) // byte order == (orderkey, line) order
    // a leading-component range is a prefix byte-range scan
    def k(o: Long, l: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(16).putLong(o).putLong(l).array()
    val inRange = li.filter(col("rowKey") >= lit(k(5L, 0L)) && col("rowKey") < lit(k(8L, 0L)))
      .select("rowKey").distinct().as(org.apache.spark.sql.Encoders.BINARY).collect()
      .map(b => java.nio.ByteBuffer.wrap(b).getLong)
    assert(inRange.nonEmpty && inRange.forall(o => o >= 5L && o < 8L))
  }

  test("multi-version injection + latest-version-wins") {
    val versioned = CellTable.withExtraVersions(cells, lit(true), n = 2)
    assert(versioned.count() == cells.count() * 3)
    val latest = CellTable.latestVersion(versioned)
    assert(latest.count() == cells.count())
    // every surviving cell must be the ts+2000 version with the #v2 value
    val distinctTs = latest.select("ts").distinct().collect().map(_.getLong(0)).toSet
    assert(distinctTs == Set(CellTable.BaseTs + 2000))
    val badValues = latest.filter(!col("value").cast("string").endsWith("#v2")).count()
    assert(badValues == 0)
  }

  test("delete markers: mask at-or-before their ts, newer puts survive, purge on compaction") {
    // every cell gets v1/v2 versions; rows with even keys get a marker
    // BETWEEN v1 (ts+1000) and v2 (ts+2000)
    val versioned = CellTable.withExtraVersions(cells, lit(true), n = 2)
    val evenKey = pmod(CellTable.keyToLong(col("rowKey")), lit(2)) === 0
    val marked = CellTable.withDeleteMarkers(
      versioned, evenKey, lit(CellTable.BaseTs + 1500L))

    val visible = CellTable.visibleLatest(marked)
    // no coordinate vanished (v2 outlives the marker everywhere)
    assert(visible.count() == cells.count())
    // and every visible cell is the v2 version, never a marker
    assert(visible.filter(col("cellType") === "Delete").count() == 0)
    assert(visible.filter(col("ts") =!= (CellTable.BaseTs + 2000L)).count() == 0)

    // a marker NEWER than every put hides the coordinate entirely
    val wiped = CellTable.withDeleteMarkers(
      versioned, evenKey, lit(CellTable.BaseTs + 9000L))
    val evenCoords = cells.filter(evenKey).count()
    assert(CellTable.visibleLatest(wiped).count() == cells.count() - evenCoords)

    // compaction: masked cells AND markers purged; retain flag keeps markers
    val compacted = graft.operators.Compaction
      .survivors(marked, maxVersions = 3, ttlWatermark = Long.MinValue)
    assert(compacted.filter(col("cellType") === "Delete").count() == 0)
    // even keys: only v2 survives (base+v1 masked); odd keys: all 3 versions
    assert(compacted.filter(evenKey).count() == evenCoords)
    assert(compacted.count() == evenCoords + (cells.count() - evenCoords) * 3)
    val retained = graft.operators.Compaction
      .survivors(marked, maxVersions = 3, ttlWatermark = Long.MinValue,
        retainDeleteMarkers = true)
    assert(retained.filter(col("cellType") === "Delete").count() == evenCoords)
  }

  test("column pagination: byte-ordered page per (row, family), empty past the end") {
    val page = graft.operators.Relational.columnPaginate(cells, offset = 1, limit = 2)
    // every customer row has 4 qualifiers; page [1,3) is always full
    val perRow = page.groupBy("rowKey").count().select("count").distinct().collect()
    assert(perRow.map(_.getLong(0)).toSeq == Seq(2L))
    val quals = page.select(col("qualifier").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(quals == Seq("c_mktsegment", "c_name"))
    // offset past the column count yields nothing
    assert(graft.operators.Relational.columnPaginate(cells, offset = 4, limit = 2)
      .isEmpty)
  }

  test("as-of read resurrects pre-delete data; VERSIONS=2 ranks newest-first") {
    val versioned = CellTable.withExtraVersions(cells, lit(true), n = 2)
    val marked = CellTable.withDeleteMarkers(versioned, lit(true),
      lit(CellTable.BaseTs + 10000L))
    // present time: the marker out-timestamps every put -> all masked
    assert(CellTable.visibleLatest(marked).isEmpty)
    // as of BaseTs+1000: the marker does not exist yet and v2 (+2000) is
    // in the future -> every coordinate reads exactly its v1
    val asOf = CellTable.visibleAsOf(marked, CellTable.BaseTs + 1000L)
    assert(asOf.count() == cells.count())
    assert(asOf.select(col("value").cast("string")).collect()
      .forall(_.getString(0).endsWith("#v1")))
    // VERSIONS=2: rank 1 is v2, rank 2 is v1, two rows per coordinate
    val v = CellTable.visibleVersions(versioned, n = 2)
    assert(v.count() == 2 * cells.count())
    val byRank = v.groupBy("version_rank")
      .agg(count(when(col("value").cast("string").endsWith("#v2"), 1)).as("v2s"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Long]("version_rank") ->
        ((r.getAs[Long]("v2s"), r.getAs[Long]("n")))).toMap
    assert(byRank(1L) == ((cells.count(), cells.count())), "rank 1 must be all v2")
    assert(byRank(2L)._1 == 0L, "rank 2 must hold no v2")
  }

  test("TTL read: aged cells expire, expired markers stop masking, fresh markers still mask") {
    val versioned = CellTable.withExtraVersions(cells, lit(true), n = 2)
    // ttl window (nowTs-ttl, nowTs]: at now=+2500/ttl=2000 the base (age
    // 2500) expires, v1 (+1000) and v2 (+2000) survive -> v2 wins
    val t = CellTable.visibleWithTtl(versioned,
      CellTable.BaseTs + 2500L, ttlMillis = 2000L)
    assert(t.count() == cells.count())
    assert(t.select(col("value").cast("string")).collect()
      .forall(_.getString(0).endsWith("#v2")))
    // tighter ttl: only v2 survives the cut, same answer
    assert(CellTable.visibleWithTtl(versioned,
      CellTable.BaseTs + 2500L, ttlMillis = 600L).count() == cells.count())
    // everything aged out -> empty read
    assert(CellTable.visibleWithTtl(versioned,
      CellTable.BaseTs + 9000L, ttlMillis = 2000L).isEmpty)
    // a marker inside the window masks everything at-or-before it; and
    // because a marker is always newer than what it masks, marker
    // expiry can never resurrect data — the masked puts expired first
    val marked = CellTable.withDeleteMarkers(versioned, lit(true),
      lit(CellTable.BaseTs + 2200L))
    assert(CellTable.visibleWithTtl(marked,
      CellTable.BaseTs + 2500L, ttlMillis = 2000L).isEmpty,
      "fresh marker at +2200 must mask v2 at +2000")
    assert(CellTable.visibleWithTtl(marked,
      CellTable.BaseTs + 9000L, ttlMillis = 6850L).isEmpty,
      "cut at +2150 expires the marker AND everything it masked")
    // a put NEWER than the marker out-lives both the mask and the cut
    val resurrect = CellTable.withDeleteMarkers(versioned, lit(true),
      lit(CellTable.BaseTs + 1500L))
    val fresh = CellTable.visibleWithTtl(resurrect,
      CellTable.BaseTs + 2500L, ttlMillis = 2000L)
    assert(fresh.count() == cells.count() &&
      fresh.select(col("value").cast("string")).collect()
        .forall(_.getString(0).endsWith("#v2")))
  }

  test("wide rows: family map with latest-version + delete visibility, one exchange") {
    val versioned = CellTable.withExtraVersions(cells, lit(true), n = 2)
    val marked = CellTable.withDeleteMarkers(versioned,
      pmod(CellTable.keyToLong(col("rowKey")), lit(7)) === 0,
      lit(CellTable.BaseTs + 10000L))
    val wide = CellTable.wideRows(marked)
    val rows = wide.collect()
    // masked rows (every version at/before the marker) vanish whole
    val nRows = cells.select("rowKey").distinct().count()
    val nMasked = cells
      .filter(pmod(CellTable.keyToLong(col("rowKey")), lit(7)) === 0)
      .select("rowKey").distinct().count()
    assert(rows.length == nRows - nMasked)
    // surviving rows carry all 4 columns at the newest version
    assert(rows.forall(_.getAs[Long]("n_cols") == 4L))
    val m = rows.head.getAs[Map[String, String]]("columns")
    assert(m.keySet == Set("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    assert(m.values.forall(_.endsWith("#v2")), s"latest version must win: $m")
    // both aggregations share the pre-partitioning: exactly one exchange
    val plan = CellTable.wideRows(versioned).queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, saw $exchanges:\n$plan")
  }

  test("wide-row consumer: filtering through the map view keeps the one-exchange shape") {
    // q_wide_filter's contract: element_at predicates + projections over
    // the map COMPOSE with the wide-row plan — the filter rides on top of
    // the shared pre-partitioned aggregation (still exactly one exchange),
    // proving the wide view is an input shape, not a terminal rendering
    val versioned = CellTable.withExtraVersions(cells, lit(true), n = 2)
    val consumer = CellTable.wideRows(versioned)
      .filter(element_at(col("columns"), "c_mktsegment").startsWith("MACHINERY"))
      .select(col("rowKey"), element_at(col("columns"), "c_name").as("name"))
    assert(consumer.count() > 0)
    val plan = consumer.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, saw $exchanges:\n$plan")
  }

  test("column pagination counts a qualifier once on a multi-version frame") {
    // HBase ColumnPaginationFilter counting unit: a COLUMN, not a cell —
    // extra versions must change neither the page membership nor its size,
    // and each paged column surfaces its latest version
    val versioned = CellTable.withExtraVersions(cells, lit(true), n = 2)
    val page = graft.operators.Relational
      .columnPaginate(versioned, offset = 1, limit = 2)
    val quals = page.select(col("qualifier").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(quals == Seq("c_mktsegment", "c_name"))
    val perRow = page.groupBy("rowKey").count().select("count").distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(perRow == Seq(2L))
    // latest-version semantics: the paged ts is the max ts per coordinate
    val maxTs = versioned.groupBy("rowKey", "family", "qualifier")
      .agg(max("ts").as("max_ts"))
    val stale = page.join(maxTs, Seq("rowKey", "family", "qualifier"))
      .filter(col("ts") =!= col("max_ts")).count()
    assert(stale == 0)
  }

  test("CopyRow: T1 ts override rewrites only the timestamp") {
    val out = CopyRow.plan(cells, "\\x00\\x00\\x00\\x00\\x00\\x00\\x00*",
      overrideTs = true, tsToUse = 1234L)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("ts") == 1234L))
    // row key decodes back to custkey 42 (0x2A = '*')
    val keys = out.select("rowKey").as(org.apache.spark.sql.Encoders.BINARY).collect()
    assert(keys.forall(k => java.nio.ByteBuffer.wrap(k).getLong == 42L))
    // T2 identity copy keeps the original ts
    val identity = CopyRow.plan(cells, "\\x00\\x00\\x00\\x00\\x00\\x00\\x00*",
      overrideTs = false, tsToUse = 0L)
    assert(identity.collect().forall(_.getAs[Long]("ts") == CellTable.BaseTs))
  }

  test("CopyRow: T3 empty-row guard fires for a key in no table") {
    var written = false
    val n = CopyRow.run(cells, "\\xFF\\xFF\\xFF\\xFF\\xFF\\xFF\\xFF\\xFF",
      overrideTs = true, tsToUse = 1L)(_ => written = true)
    assert(n == 0 && !written)
  }

  test("CopyRow: run writes and counts cells for a present key") {
    var seen = 0L
    val n = CopyRow.run(cells, "\\x00\\x00\\x00\\x00\\x00\\x00\\x00*",
      overrideTs = true, tsToUse = 99L)(df => seen = df.count())
    assert(n > 0 && seen == n)
  }

  test("CopyRow from a cell store reads its row with no Spark job") {
    val root = java.nio.file.Files.createTempDirectory("copyrow_store").toString
    cells.write.format("cellstore").option("numRegions", "4").mode("overwrite").save(s"$root/src")
    val store = spark.read.format("cellstore").load(s"$root/src")
    val sc = spark.sparkContext
    val (readGroup, writeGroup) = ("copyrow-read", "copyrow-write")
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    val n = try {
      sc.setJobGroup(readGroup, "copy_row read")
      val copied = CopyRow.run(store, "\\x00\\x00\\x00\\x00\\x00\\x00\\x00*",
          overrideTs = true, tsToUse = 99L) { df =>
        sc.setJobGroup(writeGroup, "copy_row write")
        try df.write.format("cellstore").mode("append").save(s"$root/dst")
        finally sc.setJobGroup(readGroup, "copy_row read")
      }
      // the listener bus is asynchronous and in order: once a marker job
      // arrives, every job the copy started has arrived before it
      sc.setJobGroup("marker", "marker")
      spark.range(1).collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!groups.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("marker"), "listener never saw the marker job")
      assert(groups.contains(writeGroup), "the write callback ran no job")
      assert(!groups.contains(readGroup), "the copy's read started a job")
      copied
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val dst = spark.read.format("cellstore").load(s"$root/dst").collect()
    assert(n == 4L && dst.length == 4)
    assert(dst.forall(r => r.getAs[Long]("ts") == 99L &&
      java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]]("rowKey")).getLong == 42L))
  }

  test("CorruptScan: counters satisfy TOTAL = SUCCESS + FAILED; report formats M5") {
    val poisoned = col("qualifier").cast("string") === "c_acctbal" &&
      col("value").cast("string").cast("double") < 0
    val obs = Observation("corrupt_test")
    val probed = CorruptScan.withCounters(
      CorruptScan.probeDeclarative(cells, poisoned), obs)
    val report = CorruptScan.corruptReport(probed).collect()

    val total = obs.get("TOTAL_ROWS").asInstanceOf[Long]
    val success = obs.get("SUCCESS_ROWS").asInstanceOf[Long]
    val failed = obs.get("FAILED_ROWS").asInstanceOf[Long]
    assert(total == cells.select("rowKey").distinct().count())
    assert(total == success + failed)
    assert(failed == report.length)
    // M5 contract: "<Class>, message: <first line only>"
    report.foreach { r =>
      assert(r.getAs[String]("error") ==
        "CorruptCellException, message: poisoned cell value")
      assert(r.getAs[String]("row_key").startsWith("\\x00"))
    }
    // negative balances exist in the fixture, so the error channel is non-trivial
    assert(failed > 0)
  }

  test("CorruptScan: M5 normalization branches (multiline / null / blank / \\rX)") {
    import spark.implicits._
    val df = Seq(
      ("E1", "line1\r\nline2"),   // multiline -> first line
      ("E2", null),                // null -> n/a
      ("E3", ""),                  // empty -> n/a
      ("E4", "   "),               // blank -> n/a
      ("E5", "\rX")                // blank check precedes split -> empty first line
    ).toDF("cls", "msg")
    val got = df.select(col("cls"),
      CorruptScan.normalizeError(col("cls"), col("msg")).as("e"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("E1") == "E1, message: line1")
    assert(got("E2") == "E2, message: n/a")
    assert(got("E3") == "E3, message: n/a")
    assert(got("E4") == "E4, message: n/a")
    assert(got("E5") == "E5, message: ")
  }

  test("CorruptScan: probeWithResource opens/closes per partition and routes errors") {
    val keys = CorruptScan.rowKeys(cells)
    val probe = new CorruptScan.RowProbe {
      def probe(rowKey: Array[Byte]): Unit = {
        val k = java.nio.ByteBuffer.wrap(rowKey).getLong
        if (k % 10 == 0) throw new IllegalStateException(s"poisoned\nkey=$k")
      }
    }
    val results = CorruptScan.probeWithResource(keys, () => probe).collect()
    assert(results.length == keys.count())
    val failed = results.filter(!_.ok)
    assert(failed.nonEmpty)
    assert(failed.forall(_.errorClass == "IllegalStateException"))
    assert(failed.forall(_.errorMessage.startsWith("poisoned")))
  }

  test("TSV sink writes part files with _SUCCESS (K2 layout)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv").toString + "/out"
    val poisoned = col("qualifier").cast("string") === "c_acctbal" &&
      col("value").cast("string").cast("double") < 0
    CorruptScan.writeTsv(
      CorruptScan.corruptReport(CorruptScan.probeDeclarative(cells, poisoned)), dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.contains("_SUCCESS"))
    assert(files.exists(_.startsWith("part-")))
    val lines = spark.read.text(dir).collect().map(_.getString(0))
    assert(lines.forall(_.contains("\tCorruptCellException, message: poisoned cell value")))
  }

  test("CellCounter: per-qualifier cells, rows, and version depth") {
    val base = CellTable.fromTable(spark, sf001, "region") // 5 rows × r_name
    val versioned = CellTable.withExtraVersions(
      base, CellTable.keyToLong(col("rowKey")) < 2L, n = 2) // rows 0,1 → 3 versions
    val rows = graft.operators.StoreStats.cellCounts(versioned).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(new String(r.getAs[Array[Byte]]("qualifier")) == "r_name")
    assert(r.getAs[Long]("n_cells") == 5 + 4)  // 2 rows gain 2 versions each
    assert(r.getAs[Long]("n_rows") == 5)
    assert(r.getAs[Long]("max_versions") == 3)
  }
}
