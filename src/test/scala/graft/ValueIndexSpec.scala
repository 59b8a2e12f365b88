package graft

import graft.model.CellTable
import graft.operators.ValueIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Secondary value index: exactness (collisions re-checked), plan shape
  * (index GET pushed, base GETs runtime-filtered), maintenance append. */
class ValueIndexSpec extends AnyFunSuite with SparkTestBase {

  test("lookup returns exactly the cells holding the value; plans prune both stores") {
    val base = java.nio.file.Files.createTempDirectory("graft_vix").toString
    val cells = CellTable.fromTable(spark, sf001, "customer")
    cells.write.format("cellstore").option("buckets", "4")
      .mode("overwrite").save(s"$base/base")
    ValueIndex.build(spark.read.format("cellstore").load(s"$base/base"),
      s"$base/index")

    val hit = ValueIndex.lookup(spark, s"$base/index", s"$base/base",
      "BUILDING".getBytes("UTF-8"))
    val expected = spark.read.parquet(s"$sf001/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING").count()
    assert(hit.count() == expected && expected > 0)
    // exactness: every returned cell carries the value, qualifier is the
    // segment column (no other same-hash cell leaked through)
    val rows = hit.collect()
    assert(rows.forall(r => new String(r.getAs[Array[Byte]]("value")) == "BUILDING"))
    assert(rows.forall(r => new String(r.getAs[Array[Byte]]("qualifier")) == "c_mktsegment"))

    // plan shape: the index side is a pushed GET (EqualTo on rowKey after
    // constant folding), the base side carries a runtime rowKey filter
    val plan = hit.queryExecution.executedPlan.toString
    val scans = cellStoreScans(hit).map(_.description())
    assert(scans.exists(d => d.contains(s"path=$base/index") && d.contains("pushed=[EqualTo(rowKey")),
      s"index GET not pushed in:\n${scans.mkString("\n")}")
    assert(plan.contains("RuntimeFilters: [dynamicpruning") ||
      plan.contains("dynamicpruningexpression") || plan.contains("In(rowKey"),
      s"base scan missing runtime rowKey filter in:\n$plan")

    // a value absent from the corpus finds nothing (bloom-elided GET)
    assert(ValueIndex.lookup(spark, s"$base/index", s"$base/base",
      "NO_SUCH_SEGMENT".getBytes("UTF-8")).count() == 0)

    // maintenance: appending a new base batch + its index rows makes the
    // new value findable without rebuilding
    val extra = cells.limit(0).unionByName(
      spark.range(1).select(
        CellTable.bigEndianKey(lit(999999L)).as("rowKey"),
        lit("customer").as("family"),
        lit("c_mktsegment").cast("binary").as("qualifier"),
        lit(CellTable.BaseTs).as("ts"),
        lit("Put").as("cellType"),
        lit("NEWSEGMENT").cast("binary").as("value")))
    extra.write.format("cellstore").mode("append").save(s"$base/base")
    ValueIndex.indexCells(extra).write.format("cellstore")
      .mode("append").save(s"$base/index")
    val post = ValueIndex.lookup(spark, s"$base/index", s"$base/base",
      "NEWSEGMENT".getBytes("UTF-8")).collect()
    assert(post.length == 1 &&
      CellTable.keyToLong(lit(post.head.getAs[Array[Byte]]("rowKey"))) != null)
  }

  test("rewrite rule: a plain value filter is served by the index, exprIds intact") {
    import graft.plans.ValueIndexRewrite
    val base = java.nio.file.Files.createTempDirectory("graft_vix_rule").toString
    val cells = CellTable.fromTable(spark, sf001, "customer")
    cells.write.format("cellstore").option("buckets", "4")
      .mode("overwrite").save(s"$base/base")
    ValueIndex.build(spark.read.format("cellstore").load(s"$base/base"),
      s"$base/index")
    ValueIndexRewrite.register(s"$base/base", s"$base/index")
    ValueIndexRewrite.ensureInjected(spark)
    try {
      def userQuery = spark.read.format("cellstore").load(s"$base/base")
        .filter(col("value") === lit("BUILDING".getBytes("UTF-8")))
        .select(col("qualifier").cast("string").as("q"),
          col("value").cast("string").as("v"))

      val served = userQuery
      val opt = served.queryExecution.optimizedPlan.toString
      assert(opt.contains("Join"), s"expected the index-probe join in:\n$opt")
      val scans = cellStoreScans(served).map(_.description())
      assert(scans.exists(_.contains(s"path=$base/index")),
        s"index store not scanned in:\n${scans.mkString("\n")}")
      assert(scans.exists(_.contains("pushed=[EqualTo(rowKey")),
        s"index GET not pushed in:\n${scans.mkString("\n")}")

      // answers equal the unrewritten plan exactly
      spark.conf.set("spark.graft.valueindex.enabled", "false")
      val plain = userQuery
      assert(!plain.queryExecution.optimizedPlan.toString.contains("Join"),
        "kill switch must leave the plain scan alone")
      val expected = plain.collect().map(r => (r.getString(0), r.getString(1))).sorted
      spark.conf.set("spark.graft.valueindex.enabled", "true")
      val got = served.collect().map(r => (r.getString(0), r.getString(1))).sorted
      assert(got.sameElements(expected) && got.nonEmpty)

      // downstream composition: an aggregate over the rewritten output binds
      val n = userQuery.groupBy(col("q")).count().collect()
      assert(n.map(_.getLong(1)).sum == expected.length)

      // a directly-built lookup() must NOT be re-spliced into a nested
      // double probe now that its base store is registered: its pushed
      // value filter lands on a graft.noRewrite-marked scan
      val direct = ValueIndex.lookup(spark, s"$base/index", s"$base/base",
        "BUILDING".getBytes("UTF-8"))
      // exactly the probe's own join — a re-spliced nested probe would
      // add a second Join and a second base-store scan
      val directOpt = direct.queryExecution.optimizedPlan.toString
      val joins = "Join ".r.findAllIn(directOpt).length
      assert(joins == 1, s"expected exactly one join, got $joins in:\n$directOpt")
      val basePlan = direct.queryExecution.executedPlan.toString
      val baseScans = s"CellStoreScan path=$base/base".r
        .findAllIn(basePlan).length
      assert(baseScans == 1,
        s"expected exactly one base scan, got $baseScans in:\n$basePlan")
      assert(direct.count() == expected.length)

      // conjunction: extra predicates stay applied on top of the probe
      val conj = spark.read.format("cellstore").load(s"$base/base")
        .filter(col("value") === lit("BUILDING".getBytes("UTF-8")) &&
          col("family") === lit("customer"))
      assert(conj.queryExecution.optimizedPlan.toString.contains("Join"))
      assert(conj.count() == expected.length)
      val conjMiss = spark.read.format("cellstore").load(s"$base/base")
        .filter(col("value") === lit("BUILDING".getBytes("UTF-8")) &&
          col("family") === lit("nope"))
      assert(conjMiss.count() == 0)
    } finally {
      spark.conf.set("spark.graft.valueindex.enabled", "true")
      ValueIndexRewrite.unregister(s"$base/base")
    }
  }
}
