package graft

import graft.model.CellTable
import graft.operators.StoreRebalance
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exact split points (rank walk, hot-key multi-split, brute-force
  * equivalence) and in-place re-regioning. */
class StoreRebalanceSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def keys(rows: Seq[(Long, Int)]) =
    rows.flatMap { case (k, c) => Seq.fill(c)(k) }.toDF("k")
      .select(CellTable.bigEndianKey(col("k")).as("rowKey"))

  test("split points: pinned walk; a hot key owns several splits") {
    // counts: a=1 b=3 c=1 d=1, R=6, n=3 -> ranks 2 and 4, both inside b
    val out = StoreRebalance.splitPoints(
        keys(Seq((1L, 1), (2L, 3), (3L, 1), (4L, 1))), n = 3)
      .select(col("split_idx"), CellTable.keyToLong(col("split_key")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L))
  }

  test("split points match the single-partition brute force on fixture data") {
    val cells = spark.read.parquet(s"$sf001/orders.parquet")
      .select(CellTable.bigEndianKey(col("o_custkey")).as("rowKey"))
    val n = 8
    val got = StoreRebalance.splitPoints(cells, n)
      .select(col("split_idx"), CellTable.keyToLong(col("split_key")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force: cumulative walk over the collected key counts
    val counts = cells.select(CellTable.keyToLong(col("rowKey")).as("k"))
      .groupBy("k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val r = counts.map(_._2).sum
    var cum = 0L
    val want = scala.collection.mutable.Map[Long, Long]()
    counts.foreach { case (k, c) =>
      val prev = cum; cum += c
      (1L until n).foreach { i =>
        val rank = (i * r + n - 1) / n // ceil
        if (rank > prev && rank <= cum) want(i) = k
      }
    }
    assert(got == want.toMap)
    assert(got.size == n - 1)
  }

  test("rebalance re-regions a one-file store; pruning survives") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rebal").toString
    val cells = CellTable.fromTable(spark, sf001, "customer")
    cells.write.format("cellstore").option("numRegions", "1")
      .mode("overwrite").save(dir)
    assert(StoreRebalance.skewReport(spark, dir)
      .select("n_files").as[Long].head() == 1L)

    StoreRebalance.rebalance(spark, dir, numRegions = 8)
    val rep = StoreRebalance.skewReport(spark, dir).collect()(0)
    assert(rep.getAs[Long]("n_files") == 8L)
    assert(rep.getAs[Double]("skew") < 2.0,
      s"regions should be roughly balanced: $rep")
    // nothing lost, and a point GET still prunes to one partition
    val store = spark.read.format("cellstore").load(dir)
    assert(store.count() == cells.count())
    val get = store.filter(col("rowKey") === CellTable.bigEndianKey(lit(42L)))
    assert(plannedChunks(get) == 1)
    assert(get.count() > 0)
  }
}
