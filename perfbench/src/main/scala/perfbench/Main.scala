package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkEntry
import graft.functions.BytesBinaryCodec
import graft.model.CellTable
import graft.operators.{Compaction, CopyRow, CorruptScan}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark JVM: set up one workload, run an output-checked pass, warm
  * passes and then timed passes for the requested seconds, and write the run
  * record (`record.json`, plus `trace.json` on a traced run) into the
  * output directory. `perfbench/run.py` builds, launches and checks it.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <fixtureDir> <outDir> <cores>`
  */
object Main {
  /** Seeded cell-store GETs per pass. */
  val GetsPerPass = 12
  /** Untimed plain passes after the checked pass. */
  val WarmPasses = 2
  val CopyTs = 1717200000000L

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    require(args.length == 7,
      "usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <fixtureDir> <outDir> <cores>")
    val w = Workloads.byName(args(0))
    val seed = args(1).toLong
    val seconds = args(2).toDouble
    val traced = args(3) == "1"
    val (fixtures, out, cores) = (args(4), args(5), args(6).toInt)

    val loadPre = loadavg()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    if (traced) tracer.register()
    try new Run(spark, tracer, w, seed, seconds, traced, fixtures, out, cores, loadPre, jvmStart).run()
    finally spark.stop()
  }

  def loadavg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Regular-file bytes under `dir`, hidden sidecars and checksums included. */
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  def bigEndian(k: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8).putLong(k).array()
}

/** One op of a pass. `kind` groups latency samples: query, get or tool. */
sealed trait Op { def name: String; def module: String; def kind: String }
final case class QueryOp(name: String, module: String) extends Op { val kind = "query" }
final case class GetOp(label: String, key: Array[Byte], expectedCells: Int) extends Op {
  val name = s"get_$label"; val module = "CellStoreSource"; val kind = "get"
}
final case class CopyRowOp(key: Long) extends Op {
  val name = "copy_row"; val module = "CopyRow"; val kind = "tool"
}
case object CorruptScanOp extends Op {
  val name = "corrupt_scan"; val module = "CorruptScan"; val kind = "tool"
}
case object CompactOp extends Op {
  val name = "rebuild_compact"; val module = "Compaction"; val kind = "tool"
}

final case class OpResult(op: Op, ms: Double, ok: Boolean, error: String)

private final class Run(spark: SparkSession, tracer: Tracer, w: Workload, seed: Long,
    seconds: Double, traced: Boolean, fx: String, out: String, cores: Int,
    loadPre: Double, jvmStart: Long) {
  import Main._

  private val rng = new Random(seed)
  private val work = s"$out/work"
  private val store = s"$work/store"
  private val copyDest = s"$work/copy_dest"
  private val corruptTsv = s"$work/corrupt_tsv"
  private val rebuildDir = s"$work/rebuild"

  /** Rows each op returned in the checked pass, for rows-examined ratios. */
  private val checkedRows = mutable.Map.empty[String, Double]
  private val checks = mutable.LinkedHashMap.empty[String, Any]
  private val getChecks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** (disk bytes, logical cell bytes) of every cell-store write checked. */
  private val writes = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private var keys: Array[Long] = Array.empty
  private var valueCols = 0
  private var checkedOps = 0

  private var runSpan: Span = null

  def run(): Unit = {
    tracer.on = traced
    runSpan = tracer.open(null, "run", w.name)
    // ---- set-up, from JVM entry: session start, the workload's store, and
    // one call of every query builder so eager index and model builds
    // finish. It runs once: the engine memoizes builds per session and
    // fixture path, and its oracle statements read the single model built.
    tracer.span(runSpan, "setup", "setup") { s => setup(s) }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    tracer.on = false
    val keyCol = CellTable.keyColumnsOf(w.store).head
    val table = spark.read.parquet(s"$fx/${w.store}.parquet")
    keys = table.select(col(keyCol).cast("long")).collect().map(_.getLong(0)).sorted
    valueCols = table.columns.length - 1

    // ---- warm-up: the checked pass (outputs captured, outside any timing)
    // and plain passes. With one plain pass the first timed pass was still
    // the slowest of its run in most runs.
    runPass("check", check = true)
    storedBytes()
    // after the queries ran: some oracle statements embed model state
    Json.write(s"$out/check/oracle_sql.json", Json.render(
      SparkEntry.oracleSql.filter { case (q, _) => w.queries.exists(_._1 == q) }))
    (1 to WarmPasses).foreach(i => runPass(s"warm $i", check = false))
    val readyS = (System.currentTimeMillis() - jvmStart) / 1e3

    // ---- timed passes, at least two, until the requested seconds are
    // spent; a traced run alternates untraced and traced passes so the
    // tracing overhead is measured within the run.
    val timed = mutable.ArrayBuffer.empty[(Boolean, Double, Seq[OpResult])]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def enough = elapsed >= seconds &&
      (!traced || (timed.count(_._1) >= 2 && timed.count(!_._1) >= 2))
    while (timed.size < 2 || !enough) {
      val on = traced && timed.size % 2 == 1
      tracer.on = on
      val (s, results) = runPass(s"timed ${timed.size}", check = false)
      timed += ((on, s, results))
    }
    tracer.on = traced
    val probes = if (traced) KernelProbes.run(spark, tracer, runSpan, fx) else Map.empty[String, Double]
    tracer.close(runSpan)
    tracer.on = false
    val loadEnd = loadavg()

    val untracedPasses = timed.filter(!_._1)
    val e2e = endToEnd(setupS, untracedPasses.toSeq)
    val layers: Map[String, (Double, String)] =
      if (traced) Layers.compute(tracer, timed.count(_._1), cores) ++
        probes.map { case (k, v) => s"functions.${k}_ms" -> (v, "ms") } ++
        overhead(setupS, timed.toSeq)
      else Map.empty

    if (traced) Json.write(s"$out/trace.json", Json.spans(tracer.spans))
    val allResults = timed.flatMap(_._3)
    Json.write(s"$out/record.json", Json.render(mutable.LinkedHashMap(
      "workload" -> w.name, "fixtures" -> fx, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> cores, "loadavg_pre_warmup" -> loadPre, "loadavg_end" -> loadEnd,
      "warmup_passes" -> (1 + WarmPasses), "ready_s" -> readyS,
      "passes" -> timed.map { case (on, s, rs) => Map("traced" -> on, "s" -> s,
        "ops" -> rs.map(r => Seq(r.op.name, r.op.kind, r.ms, r.ok))) },
      "attempted" -> (allResults.size + checkedOps),
      "failures" -> failures,
      "checks" -> (checks ++ Seq("gets" -> getChecks)),
      "writes" -> writes.map { case (n, d, l) => Map("write" -> n, "disk_bytes" -> d, "cell_bytes" -> l) },
      "tails" -> tails(untracedPasses.toSeq),
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layers.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.to(mutable.LinkedHashMap))))
  }

  private def setup(span: Span): Unit = {
    tracer.span(span, "write", "store build") { _ =>
      CellTable.fromTable(spark, fx, w.store)
        .write.format("cellstore").option("numRegions", "8").mode("overwrite").save(store)
    }
    w.queries.foreach { case (q, _) =>
      tracer.span(span, "build", q) { _ => SparkEntry.queries(q)(spark, fx) }
    }
  }

  /** The seeded op list of one pass, in its seeded order. The GET mix is
    * fixed (¾ stored keys; of the rest, half inside the stored key range,
    * half beyond it) so that only the keys and the order vary by seed. */
  private def passOps(): Seq[Op] = {
    def stored() = keys(rng.nextInt(keys.length))
    val hits = GetsPerPass * 3 / 4
    val missIn = (GetsPerPass - hits) / 2
    val gets = Seq.fill(hits)(GetOp("hit", bigEndian(stored()), valueCols)) ++
      // one byte past a stored key: inside the key range, never stored
      Seq.fill(missIn)(GetOp("miss_in", bigEndian(stored()) :+ rng.nextInt(256).toByte, 0)) ++
      Seq.fill(GetsPerPass - hits - missIn)(
        GetOp("miss_out", bigEndian(keys.last + 1 + rng.nextInt(1000)), 0))
    val tools =
      if (w.cellTools) Seq(CopyRowOp(stored()), CorruptScanOp, CompactOp)
      else Nil
    rng.shuffle(w.queries.map { case (q, m) => QueryOp(q, m) } ++ gets ++ tools)
  }

  private def runPass(name: String, check: Boolean): (Double, Seq[OpResult]) = {
    Seq(copyDest, corruptTsv, rebuildDir).foreach(deleteTree)
    val ops = passOps()
    val t0 = System.nanoTime()
    val results = tracer.span(runSpan, "pass", name) { ps => ops.map(op => runOp(op, ps, check)) }
    if (check) checkedOps = results.size
    ((System.nanoTime() - t0) / 1e9, results)
  }

  private def runOp(op: Op, pass: Span, check: Boolean): OpResult = {
    val t0 = System.nanoTime()
    val (ok, err) =
      try tracer.op(pass, op.name) { s =>
        val (ok, rows) = execute(op, s, check)
        if (s != null) {
          s.counts("rows") = rows.getOrElse(checkedRows.getOrElse(op.name, 0.0))
          s.notes += op.module
        }
        (ok, if (ok) "" else "output check failed")
      } catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    if (!ok) failures += Map("op" -> op.name, "error" -> err.take(500))
    OpResult(op, ms, ok, err)
  }

  private def cellsOf(df: DataFrame): Seq[Seq[Any]] =
    df.select(col("family"), col("qualifier").cast("string"), col("ts"), col("cellType"),
        col("value").cast("string"))
      .collect().toSeq.map(r => Seq(r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getString(4)))
      .sortBy(_.map(_.toString).mkString("\u0000"))

  private def storeCells: DataFrame = spark.read.format("cellstore").load(store)

  private def span[T](parent: Span, kind: String, name: String, bytesOf: String = null)(body: => T): T =
    tracer.span(parent, kind, name) { s =>
      val r = body
      if (s != null && bytesOf != null) s.counts("bytes") = dirBytes(bytesOf).toDouble
      r
    }

  /** Runs one op; returns whether its in-line check passed and the rows it
    * returned when known without extra work. */
  private def execute(op: Op, s: Span, check: Boolean): (Boolean, Option[Double]) = op match {
    case QueryOp(q, _) =>
      val df = span(s, "build", "SparkEntry.queries")(SparkEntry.queries(q)(spark, fx))
      if (check) {
        val dir = s"$out/check/$q"
        span(s, "exec", "parquet sink")(df.coalesce(1).write.mode("overwrite").parquet(dir))
        val n = spark.read.parquet(dir).count().toDouble
        checkedRows(q) = n
        checks(q) = Map("kind" -> "query", "rows" -> n)
        (true, Some(n))
      } else {
        span(s, "exec", "noop sink")(df.write.format("noop").mode("overwrite").save())
        (true, None)
      }

    case g: GetOp =>
      val rows = storeCells.filter(col("rowKey") === lit(g.key))
      if (check) {
        val cells = cellsOf(rows)
        getChecks += Map("table" -> w.store, "label" -> g.label,
          "key_hex" -> g.key.map(b => f"${b & 0xff}%02x").mkString, "cells" -> cells)
        (cells.size == g.expectedCells, Some(cells.size.toDouble))
      } else {
        val n = rows.collect().length
        (n == g.expectedCells, Some(n.toDouble))
      }

    case CopyRowOp(k) =>
      val n = CopyRow.run(storeCells, BytesBinaryCodec.encode(bigEndian(k)),
          overrideTs = true, tsToUse = CopyTs) { df =>
        span(s, "write", "CellStoreWrite", copyDest) {
          df.write.format("cellstore").option("numRegions", "1").mode("overwrite").save(copyDest)
        }
      }
      if (check) {
        val dest = spark.read.format("cellstore").load(copyDest)
        checks("copy_row") = Map("kind" -> "copy_row", "table" -> w.store, "key" -> k,
          "ts" -> CopyTs, "cells" -> cellsOf(dest))
        writes += (("copy_row", dirBytes(copyDest), logicalBytes(dest)))
      }
      (n == valueCols, Some(n.toDouble))

    case CorruptScanOp =>
      // the reference's poison rule on this fixture: a negative balance
      val poisoned = col("qualifier").cast("string") === "c_acctbal" &&
        col("value").cast("string").cast("double") < 0
      span(s, "exec", "CorruptScan.writeTsv") {
        CorruptScan.writeTsv(CorruptScan.pipeline(storeCells, poisoned), corruptTsv)
      }
      if (check) {
        val lines = spark.read.text(corruptTsv).collect().map(_.getString(0)).sorted.toSeq
        checks("corrupt_scan") = Map("kind" -> "corrupt_scan", "table" -> w.store, "lines" -> lines)
        checkedRows("corrupt_scan") = lines.size.toDouble
      }
      (true, None)

    case CompactOp =>
      val key = CellTable.keyToLong(col("rowKey"))
      val cells = CellTable.withDeleteMarkers(
        CellTable.withExtraVersions(CellTable.fromTable(spark, fx, w.store), key % 10 === 0, 2),
        key % 7 === 0, lit(CellTable.BaseTs + 1500))
      span(s, "write", "CellTable.writeRegionLayout", rebuildDir) {
        CellTable.writeRegionLayout(cells, rebuildDir, numRegions = 8)
      }
      val before = if (check) spark.read.parquet(rebuildDir).count() else 0L
      if (check) writes += (("rebuild", dirBytes(rebuildDir), logicalBytes(cells)))
      span(s, "compact", "Compaction.compactStore", rebuildDir) {
        Compaction.compactStore(spark, rebuildDir, maxVersions = 1)
      }
      if (check) {
        val after = spark.read.format("cellstore").load(rebuildDir)
        val n = after.count()
        checks("compaction") = Map("kind" -> "compaction", "table" -> w.store,
          "cells_before" -> before, "cells_after" -> n)
        checkedRows("rebuild_compact") = n.toDouble
        writes += (("compaction", dirBytes(rebuildDir), logicalBytes(after)))
      }
      (true, None)
  }

  private def logicalBytes(cells: DataFrame): Long =
    cells.select(sum(length(col("rowKey")) + length(col("family")) +
        length(col("qualifier")) + lit(8) + length(col("cellType")) + length(col("value"))))
      .head().getLong(0)

  /** Set-up store plus the checked pass's writes: disk bytes over logical
    * cell bytes (row key, family, qualifier, 8-byte ts, type, value). */
  private def storedBytes(): Unit =
    writes.prepend(("store", dirBytes(store), logicalBytes(CellTable.fromTable(spark, fx, w.store))))

  private def endToEnd(setupS: Double,
      passes: Seq[(Boolean, Double, Seq[OpResult])]): Map[String, (Double, String)] = {
    val ops = passes.flatMap(_._3)
    val getMs = ops.filter(_.op.kind == "get").map(_.ms)
    Map(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (Stats.median(passes.map(_._2)), "s"),
      "op_ms_p50" -> (Stats.median(ops.map(_.ms)), "ms"),
      "get_ms_p50" -> (Stats.median(getMs), "ms"),
      // the highest GET percentile with at least ten samples beyond it
      "get_ms_p75" -> (Stats.quantile(getMs, 0.75), "ms"),
      "peak_rss_mb" -> (peakRssMb(), "MB"),
      "stored_bytes_per_input_byte" ->
        (writes.map(_._2).sum.toDouble / math.max(1L, writes.map(_._3).sum), "ratio"))
  }

  /** 95th percentiles with their sample counts. Fewer than ten samples lie
    * beyond them in one run, so they are recorded, not gated on. */
  private def tails(passes: Seq[(Boolean, Double, Seq[OpResult])]): Map[String, Double] = {
    val ops = passes.flatMap(_._3)
    val getMs = ops.filter(_.op.kind == "get").map(_.ms)
    Map("op_samples" -> ops.size.toDouble, "op_ms_p95" -> Stats.quantile(ops.map(_.ms), 0.95),
      "get_samples" -> getMs.size.toDouble, "get_ms_p95" -> Stats.quantile(getMs, 0.95))
  }

  /** Traced minus untraced, for each end-to-end timing measured in passes. */
  private def overhead(setupS: Double,
      passes: Seq[(Boolean, Double, Seq[OpResult])]): Map[String, (Double, String)] = {
    val (on, off) = passes.partition(_._1)
    val a = endToEnd(setupS, on)
    val b = endToEnd(setupS, off)
    Seq("pass_s", "op_ms_p50", "get_ms_p50", "get_ms_p75").map { k =>
      s"overhead.$k" -> (a(k)._1 - b(k)._1, a(k)._2)
    }.toMap
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
