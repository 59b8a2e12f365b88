package graft.sources

import graft.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/**
 * Fixture-table source (TESTDATA.md). One parquet per table; at the 100 TB
 * target this is the seam where an HBase DSv2 connector (or any other
 * `spark.read.format(...)`) plugs in — everything downstream consumes plain
 * DataFrames and never knows the storage.
 *
 * `events.ts` has shipped with two different physical encodings across
 * fixture generations — TIMESTAMP(NANOS) (which Spark reads only as nano
 * longs under `spark.sql.legacy.parquet.nanosAsLong`) and plain
 * TIMESTAMP(MICROS) (which Spark reads as TIMESTAMP_NTZ or TIMESTAMP
 * depending on writer metadata). The load seam is the engine's storage
 * boundary, so it adapts to the OBSERVED schema rather than hard-coding
 * one historical encoding: see [[normalizeEventTs]]. Downstream operators
 * always see a plain session-zoned `TimestampType` `ts` (session tz is
 * pinned UTC everywhere, so the NTZ→TZ cast is value-preserving).
 */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized table row count — parquet footer metadata over an
    * immutable fixture path, the number a 100 TB deployment reads from
    * its CATALOG (the scaledPlanes/scaledNlist scaladocs' own framing).
    * The scale-adaptive parameter ladders consult it on every query
    * construction; without the memo each ANN tier paid a count job per
    * invocation (13 of them inside one q_ann_recall pass). */
  private val counts = new Memo[String, Long]

  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    counts(s"$sfDir/$name")(load(spark, sfDir, name).count())

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // harmless for µs fixtures; required so a ns fixture reads (as longs)
      // instead of failing with PARQUET_TYPE_ILLEGAL
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      parallelized(spark, s"$sfDir/$name.parquet", name,
        normalizeEventTs(spark.read.parquet(s"$sfDir/$name.parquet")))
    } else {
      parallelized(spark, s"$sfDir/$name.parquet", name,
        spark.read.parquet(s"$sfDir/$name.parquet"))
    }

  /** Natural scan split count per (path, session parallelism), memoized —
    * a driver-side plan inspection, no job. */
  private val scanParts = new Memo[String, Int]

  /** Tables whose consumers do heavy PER-ROW compute (tokenize / regex /
    * hash / vector kernels) before their first exchange — the only loads
    * [[parallelized]] may redistribute. */
  private val HeavyRowTables = Set("documents", "embeddings")

  /**
   * Scan parallelization for the heavy-per-row tables, one rule: a
   * `documents` or `embeddings` load whose natural split count is below half
   * the session's default parallelism is redistributed once right after the
   * read (the guide's "one huge unsplittable file → repartition immediately
   * after the read"). The fixtures are single parquet files with one row
   * group each, so without it every tokenize/regex/hash/vector projection
   * and map-side partial aggregation over them runs on one or two tasks at
   * any core count (measured at the synthesized sf1: redactPii 3.9 s on the
   * 2-split scan vs 0.64 s redistributed across 32). A production layout
   * (many files / many row groups) fails the split condition and the rule
   * is a no-op.
   *
   * Every other table loads as read, at any size and core count: their
   * consumers are join/aggregation-shaped, their map work is light, and an
   * added exchange is one more sequential AQE stage per consumer. Measured
   * as a net loss at 8 cores on sf0.1 `lineitem` (q_rollup_served 0.26×,
   * q_semi_join 0.52×) when a byte threshold scaled by the core count let
   * the relational tables in too.
   *
   * Output-identical: round-robin repartition is retry-deterministic
   * (sortBeforeRepartition) and every declared query is partition-order
   * independent (the repo's oracle-determinism discipline — the driver
   * already benches the same queries at 8 and 32 cores).
   */
  private def parallelized(spark: SparkSession, path: String, name: String,
      df: DataFrame): DataFrame = {
    if (!HeavyRowTables.contains(name)) return df
    val target = spark.sparkContext.defaultParallelism
    val parts = scanParts(s"$path#$target")(df.rdd.getNumPartitions)
    if (parts * 2 > target) df // properly split input: no-op
    else df.repartition(target)
  }

  /** Raw events schema (pre-normalization) for streaming readers. */
  def eventsRawSchema(spark: SparkSession, sfDir: String) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/events.parquet").schema
  }

  /** Normalize `ts` to session-zoned `TimestampType`, branching on the
    * OBSERVED dtype (shared batch/stream):
    *  - `LongType`: ns-as-long fixture → truncate to µs, reinterpret
    *  - `TimestampNTZType`: µs fixture without UTC-adjust metadata → cast
    *    (session tz pinned UTC, so wall-clock == instant)
    *  - `TimestampType`: already what downstream expects → pass through */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other; expected ns-long, " +
          "TIMESTAMP_NTZ, or TIMESTAMP")
    }
}
