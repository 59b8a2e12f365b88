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

  /**
   * Scale-adaptive scan parallelization (round 19; the guide's "one huge
   * unsplittable file → repartition immediately after the read", applied
   * adaptively). The bench fixtures are SINGLE parquet files with one row
   * group each — unsplittable below file granularity — so every scan
   * stage, and with it ALL narrow per-row work (tokenize/regex/hash
   * projections) and every map-side partial aggregation, ran on one or
   * two tasks at ANY core count (measured at the synthesized sf1:
   * redactPii 3.9 s on the 2-split scan vs 0.64 s redistributed across
   * 32). When the scan's natural split count is below half the session's
   * default parallelism, redistribute once right after the read; any
   * production layout (many files / many row groups) fails the condition
   * and this is a no-op — the knob derives from input layout and session
   * cores, never a constant tuned to either scale.
   *
   * Output-identical: round-robin repartition is retry-deterministic
   * (sortBeforeRepartition) and every declared query is partition-order
   * independent (the repo's oracle-determinism discipline — the driver
   * already benches the same queries at 8 and 32 cores).
   */
  /** Tables whose consumers do heavy PER-ROW compute (tokenize / regex /
    * hash / vector kernels) before their first exchange — the cases where
    * an under-split scan serializes real work. The relational tables'
    * consumers are join/aggregation-shaped: their map work is light, and
    * the added exchange is one more sequential AQE stage per consumer —
    * measured a NET LOSS on the short join queries (full-sweep A/B:
    * q_semi_join 0.5x, q_set_ops 0.6x, q_pivot 0.5x) against wins that
    * only the text/vector families actually realize (q_winnow 4.7x,
    * q_redact 3.1x, q_rare_ngrams 2.5x, q_ann_bq 1.9x). */
  private val HeavyRowTables = Set("documents", "embeddings")

  private val tableSizes = new Memo[String, Long]

  /** On-disk bytes of a fixture table: a file, or every regular file
    * under a directory tree. */
  private def tableBytes(path: String): Long =
    tableSizes(path)(fileBytes(new java.io.File(path.stripPrefix("file:"))))

  private[graft] def fileBytes(f: java.io.File): Long =
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children == null)
        throw new java.io.IOException(s"cannot list table directory $f")
      children.iterator.map(fileBytes).sum
    } else f.length()

  private def parallelized(spark: SparkSession, path: String, name: String,
      df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val parts = scanParts(s"$path#$target")(df.rdd.getNumPartitions)
    if (parts * 2 > target) return df // properly split input: no-op
    // heavy-per-row tables redistribute whenever under-split; the
    // relational tables additionally need ≥ ~1 MB of input per core —
    // below that the added exchange is one more sequential AQE stage that
    // buys no real map work (measured: sf0.1 lineitem/orders consumers
    // net-lost with unconditional redistribution, while the sf1 twin's
    // 78 MB single-file lineitem gains multi-x on its aggregations)
    if (HeavyRowTables.contains(name) ||
        tableBytes(path) >= target.toLong * (1L << 20))
      df.repartition(target)
    else df
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
