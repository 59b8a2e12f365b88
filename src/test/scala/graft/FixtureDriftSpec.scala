package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the fixture contract the query pack assumes, so a regenerated
 * fixture fails ONE targeted spec with a readable message instead of
 * dozens of downstream analysis errors (round 7: `events.ts` moved from
 * TIMESTAMP(NANOS) to TIMESTAMP(MICROS) between rounds and every events
 * consumer died at analysis time).
 *
 * Two layers:
 *  1. the POST-LOAD schema of every fixture table (column name → accepted
 *     dtypes) — what operators actually consume through [[Tables.load]];
 *  2. the events `ts` normalization itself, fed with BOTH historical
 *     physical encodings synthesized to parquet, so the next fixture
 *     regeneration is a no-op whichever encoding it picks.
 */
class FixtureDriftSpec extends AnyFunSuite with SparkTestBase {

  // accepted dtypes per column, post-Tables.load; a set because fixture
  // generators have legitimately varied width (int32 vs int64) before
  private val contract: Map[String, Map[String, Set[DataType]]] = Map(
    "region" -> Map(
      "r_regionkey" -> Set(IntegerType, LongType), "r_name" -> Set(StringType)),
    "nation" -> Map(
      "n_nationkey" -> Set(IntegerType, LongType), "n_name" -> Set(StringType),
      "n_regionkey" -> Set(IntegerType, LongType)),
    "customer" -> Map(
      "c_custkey" -> Set(IntegerType, LongType), "c_name" -> Set(StringType),
      "c_nationkey" -> Set(IntegerType, LongType), "c_acctbal" -> Set(DoubleType),
      "c_mktsegment" -> Set(StringType)),
    "supplier" -> Map(
      "s_suppkey" -> Set(IntegerType, LongType), "s_name" -> Set(StringType),
      "s_nationkey" -> Set(IntegerType, LongType), "s_acctbal" -> Set(DoubleType)),
    "part" -> Map(
      "p_partkey" -> Set(IntegerType, LongType), "p_name" -> Set(StringType),
      "p_brand" -> Set(StringType), "p_type" -> Set(StringType),
      "p_size" -> Set(IntegerType, LongType), "p_retailprice" -> Set(DoubleType)),
    "orders" -> Map(
      "o_orderkey" -> Set(IntegerType, LongType),
      "o_custkey" -> Set(IntegerType, LongType),
      "o_orderstatus" -> Set(StringType), "o_totalprice" -> Set(DoubleType),
      "o_orderdate" -> Set(TimestampType, TimestampNTZType, DateType),
      "o_orderpriority" -> Set(StringType)),
    "lineitem" -> Map(
      "l_orderkey" -> Set(IntegerType, LongType),
      "l_partkey" -> Set(IntegerType, LongType),
      "l_suppkey" -> Set(IntegerType, LongType),
      "l_linenumber" -> Set(IntegerType, LongType),
      "l_quantity" -> Set(DoubleType), "l_extendedprice" -> Set(DoubleType),
      "l_discount" -> Set(DoubleType), "l_tax" -> Set(DoubleType),
      "l_returnflag" -> Set(StringType), "l_linestatus" -> Set(StringType),
      "l_shipdate" -> Set(TimestampType, TimestampNTZType, DateType)),
    // events.ts is THE drift hotspot: whatever the physical encoding
    // (ns-long / µs-NTZ / µs-TZ), post-load it must be a session-zoned
    // TimestampType — every window/as-of/sessionize operator relies on it
    "events" -> Map(
      "event_id" -> Set(IntegerType, LongType),
      "ts" -> Set(TimestampType),
      "user_id" -> Set(IntegerType, LongType),
      "event_type" -> Set(StringType), "value" -> Set(DoubleType),
      "props" -> Set(StringType)),
    "documents" -> Map(
      "doc_id" -> Set(IntegerType, LongType), "text" -> Set(StringType),
      "lang" -> Set(StringType), "source" -> Set(StringType),
      "n_chars" -> Set(IntegerType, LongType)),
    "embeddings" -> Map(
      "vec_id" -> Set(IntegerType, LongType),
      "embedding" -> Set(ArrayType(FloatType, containsNull = true),
        ArrayType(FloatType, containsNull = false)),
      "label" -> Set(IntegerType, LongType)))

  test("every fixture table loads with the schema the query pack assumes") {
    val problems = Tables.All.flatMap { name =>
      val loaded = Tables.load(spark, sf001, name).schema
      val expected = contract(name)
      val missing = expected.keySet -- loaded.fieldNames.toSet
      val mistyped = loaded.fields.toSeq.collect {
        case f if expected.get(f.name).exists(ok => !ok.contains(f.dataType)) =>
          s"$name.${f.name}: got ${f.dataType.simpleString}, accepted " +
            expected(f.name).map(_.simpleString).mkString("{", ", ", "}")
      }
      missing.map(c => s"$name.$c: column missing") ++ mistyped
    }
    assert(problems.isEmpty,
      s"fixture drift detected — fix Tables/normalize or the contract:\n  " +
        problems.mkString("\n  "))
  }

  test("fixture loads read their schema from the footer and run no job") {
    val path = (t: String) => s"$sf01/$t.parquet"
    // what Tables.load sets before it reads events
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.All.foreach { t =>
      assert(Tables.readParquet(spark, path(t)).schema == spark.read.parquet(path(t)).schema, t)
    }
    assert(Tables.eventsRawSchema(spark, sf01) == spark.read.parquet(path("events")).schema)

    val sc = spark.sparkContext
    val group = s"fixture-loads-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "loads")
    try {
      Tables.All.foreach { t =>
        Tables.load(spark, sf01, t)
        if (graft.model.CellTable.PrimaryKeys.contains(t)) graft.model.CellTable.fromTable(spark, sf01, t)
      }
      Tables.eventsRawSchema(spark, sf01)
      // the listener bus is asynchronous and in order: once the marker job
      // arrives, every job the loads started has arrived before it
      sc.setJobDescription("marker")
      spark.range(1).collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!jobs.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.contains("marker"), "listener never saw the marker job")
      assert(jobs.size == 1, s"building the loads started ${jobs.size - 1} jobs")
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  private def roundTrip(dir: String): Unit = {
    val loaded = Tables.load(spark, dir, "events")
    assert(loaded.schema("ts").dataType === TimestampType)
    val r = loaded.orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0))
    // 1.5 ms and 2 ms past the epoch second, in µs
    assert(r.toSeq === Seq(1704067200001500L, 1704067200002000L))
  }

  test("normalizeEventTs adapts to a ns-as-long events fixture") {
    import spark.implicits._
    val dir = WorkDirs.dir("fixture_drift_ns")
    // what Spark's reader yields for TIMESTAMP(NANOS) under nanosAsLong
    Seq((1L, 1704067200001500000L, 7L, "click", 1.0, "{}"),
        (2L, 1704067200002000000L, 8L, "error", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    roundTrip(dir)
  }

  test("normalizeEventTs adapts to a µs-timestamp events fixture (NTZ and TZ)") {
    import spark.implicits._
    def base = Seq((1L, 1704067200001500L, 7L, "click", 1.0, "{}"),
        (2L, 1704067200002000L, 8L, "error", 2.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
    val ntzDir = WorkDirs.dir("fixture_drift_ntz")
    base.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
      .drop("us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")
    roundTrip(ntzDir)
    val tzDir = WorkDirs.dir("fixture_drift_tz")
    base.withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tzDir/events.parquet")
    roundTrip(tzDir)
  }

  test("normalizeEventTs rejects an unknown ts encoding with a readable error") {
    import spark.implicits._
    val bad = Seq(("a", "x")).toDF("event_id", "ts")
    val e = intercept[IllegalArgumentException](Tables.normalizeEventTs(bad))
    assert(e.getMessage.contains("events.ts"))
  }
}
