package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Feeds [[TableStats]]-style statistics back into plan construction —
 * the "make the stats DO something" tier on top of ANALYZE: choose
 * broadcast vs shuffle join from an estimated build-side size, and size
 * the shuffle partition count from the estimated join output volume
 * (the [[TableStats.joinEstimate]] arithmetic), instead of trusting the
 * session-global `spark.sql.shuffle.partitions` for every join.
 *
 * Statistics collection is ONE bounded aggregation per side (row count +
 * HLL ndv — sketch only, never the exact `countDistinct` twin; that twin
 * is verification scaffolding) collected as a 1-row driver decision
 * artifact, the same discipline as the IVF centroid / BPE merge
 * collects. At 100 TB the aggregation is a map-side-combined scan, and
 * the decision it buys — shipping a 10 MB dimension to every executor
 * instead of shuffling 100 TB of facts — is the single highest-leverage
 * physical choice in the plan.
 *
 * Spark's own AQE makes the same call from RUNTIME shuffle statistics;
 * this helper makes it from TABLE statistics before the first exchange
 * materializes, which is exactly what a catalog-backed CBO does with
 * ANALYZE output. The two compose: a stats-planned broadcast skips the
 * exchange AQE would have had to observe.
 */
object StatsPlanner {

  /** Per-side inputs of the decision, plus the decision itself. */
  final case class JoinDecision(
      nLeft: Long, ndvLeft: Long,
      nRight: Long, ndvRight: Long,
      rightBytesEst: Long,
      estOutRows: Long,
      broadcastRight: Boolean,
      shufflePartitions: Int) {
    /** Human-readable EXPLAIN of the stats-driven choice. */
    def explain: String =
      f"left: $nLeft%,d rows (ndv $ndvLeft%,d); right: $nRight%,d rows " +
        f"(ndv $ndvRight%,d, ~$rightBytesEst%,d B); est output $estOutRows%,d rows -> " +
        (if (broadcastRight) "BROADCAST right"
         else s"SHUFFLE on key at $shufflePartitions partitions")
  }

  /** Schema-derived average row width — `defaultSize` per field, the
    * same heuristic Catalyst's own SizeInBytesOnlyStatsPlanVisitor uses
    * when no column stats exist. */
  def rowBytes(df: DataFrame): Long =
    math.max(8L, df.schema.map(_.dataType.defaultSize.toLong).sum)

  /** One bounded stats pass per side: (rows, ndv-sketch), memoized per
    * (plan, key) for the JVM's lifetime — the ANALYZE-once discipline: at
    * 100 TB the stats pass is a corpus scan, and the same (table, key)
    * pair is consulted by every join that touches it. Cache key is the
    * canonicalized analyzed plan (same source + projection ⇒ same stats),
    * so two `Tables.load` calls of the same fixture table share one pass. */
  private val stats = new graft.Memo[(String, String), (Long, Long)]

  private def sideStats(df: DataFrame, key: String): (Long, Long) =
    stats((df.queryExecution.analyzed.canonicalized.toString, key)) {
      val r = df.agg(count(lit(1)), approx_count_distinct(col(key), 0.05)).head
      (r.getLong(0), math.max(1L, r.getLong(1)))
    }

  /** The size arithmetic, pure so the overflow regime is testable:
    * |A join B| ~ |A|*|B| / max(ndv_A, ndv_B) (TableStats.joinEstimate)
    * in BigInt, clamped — nl * nr overflows Long once both sides exceed
    * ~3e9 rows, and a negative estimate would plan a 1-partition
    * shuffle, wrong exactly at the 100 TB scale this planner exists
    * for. Returns (estimated output rows, shuffle partition count). */
  private[graft] def estimateOut(
      nl: Long, dl: Long, nr: Long, dr: Long,
      outRowBytes: Long, targetPartitionBytes: Long,
      maxPartitions: Int): (Long, Int) = {
    val estOutB = BigInt(nl) * BigInt(nr) / BigInt(math.max(1L, math.max(dl, dr)))
    val outBytes = estOutB * BigInt(outRowBytes)
    val parts = ((outBytes + targetPartitionBytes - 1) / targetPartitionBytes)
      .max(BigInt(1)).min(BigInt(maxPartitions)).toInt
    (estOutB.min(BigInt(Long.MaxValue)).toLong, parts)
  }

  def decide(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      broadcastBytes: Long = 8L << 20,
      targetPartitionBytes: Long = 64L << 20,
      maxPartitions: Int = 2048): JoinDecision = {
    val (nl, dl) = sideStats(left, leftKey)
    val (nr, dr) = sideStats(right, rightKey)
    val rightBytes = nr * rowBytes(right)
    val (estOut, parts) = estimateOut(nl, dl, nr, dr,
      rowBytes(left) + rowBytes(right), targetPartitionBytes, maxPartitions)
    JoinDecision(nl, dl, nr, dr, rightBytes, estOut,
      broadcastRight = rightBytes <= broadcastBytes, shufflePartitions = parts)
  }

  /** Equi-join with the physical strategy chosen from table stats: a
    * small build side gets a broadcast hint (no exchange on either
    * side); otherwise both sides are repartitioned on the join key at
    * the stats-sized partition count, which the sort-merge join then
    * reuses (the exchanges ARE the join's shuffle — no second one). */
  def autoJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      broadcastBytes: Long = 8L << 20,
      targetPartitionBytes: Long = 64L << 20): DataFrame = {
    val d = decide(left, right, leftKey, rightKey, broadcastBytes,
      targetPartitionBytes)
    joinWith(left, right, leftKey, rightKey, d)
  }

  /** Apply an already-made [[JoinDecision]] (lets callers log/inspect
    * `decision.explain` and reuse one stats pass across plans). */
  def joinWith(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      d: JoinDecision): DataFrame = {
    val cond: Column = left(leftKey) === right(rightKey)
    if (d.broadcastRight) left.join(broadcast(right), cond)
    else
      // the merge hint makes the stats decision BINDING: without it,
      // Catalyst's own file-size estimate can re-introduce a broadcast
      // (fine at fixture scale, exactly wrong at the 100 TB scale the
      // stats said no to) and orphan the key-partitioned exchanges
      left.repartition(d.shufflePartitions, left(leftKey)).hint("merge")
        .join(right.repartition(d.shufflePartitions, right(rightKey)), cond)
  }

  /** Query-pack adapter: customer enriched with its nation via a
    * stats-planned join (25-row nation -> broadcast chosen from stats,
    * never from a hand-placed hint), then orders aggregated per nation.
    * The DECISION is physical-only — the result set is identical under
    * either strategy, so the oracle is a plain SQL join — but the plan
    * shape is asserted in StatsPlannerSpec. */
  def statsJoinQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = Tables.load(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val customer = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val orders = Tables.load(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_totalprice"))
    val cust = autoJoin(customer, nation, "c_nationkey", "n_nationkey")
    val enriched = autoJoin(orders, cust, "o_custkey", "c_custkey")
    enriched.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
          .as("sum_price"))
  }
}
