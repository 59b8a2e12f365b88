package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer metrics of a traced run, from the spans of its traced timed
  * passes. Sums are reported per pass (divided by the traced pass count). */
object Layers {
  def compute(tracer: Tracer, passes: Int, cores: Int): Map[String, (Double, String)] = {
    val spans = tracer.spans.toSeq
    val passIds = spans.filter(s => s.kind == "pass" && s.name.startsWith("timed")).map(_.id).toSet
    val ops = spans.filter(s => s.kind == "op" && passIds.contains(s.parent))
    val opIds = ops.map(_.id).toSet
    val inOps = spans.filter(s => opIds.contains(s.op) && s.kind != "op")
    def of(kind: String) = inOps.filter(_.kind == kind)
    def total(ss: Seq[Span], key: String) = ss.map(_.counts.getOrElse(key, 0.0)).sum
    val n = math.max(passes, 1).toDouble
    def perPass(v: Double) = v / n

    val plans = of("plan")
    val jobs = of("job")
    val stages = of("stage")
    val getOpIds = ops.filter(_.name.startsWith("get_")).map(_.id).toSet
    val stageTaskMs = total(stages, "task_ms")
    val skewed = stages.filter(s => s.counts("tasks") >= 2 && s.counts("task_ms_median") > 0)
    val skewWeight = total(skewed, "task_ms")

    // op wall time that no job of the op covers: driver-side work
    val driverGapMs = ops.map { o =>
      val intervals = jobs.filter(_.op == o.id).map(j => (j.startMs, j.endMs)).sortBy(_._1)
      var covered = 0.0
      var end = Double.NegativeInfinity
      intervals.foreach { case (a, b) =>
        val lo = math.max(a, end)
        if (b > lo) covered += b - lo
        end = math.max(end, b)
      }
      math.max(0.0, o.ms - covered)
    }.sum

    val byModule = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ops.foreach(o => o.notes.headOption.foreach(m => byModule(m) += o.ms))

    val rowsReturned = ops.map(_.counts.getOrElse("rows", 0.0)).sum
    val scanRows = total(stages, "input_rows")

    Map(
      "SparkEntry.build_s" -> (perPass(of("build").map(_.ms).sum) / 1e3, "s"),
      "planning.analysis_s" -> (perPass(total(plans, "analysis_ms")) / 1e3, "s"),
      "planning.optimizer_s" -> (perPass(total(plans, "optimization_ms")) / 1e3, "s"),
      "planning.physical_s" -> (perPass(total(plans, "planning_ms")) / 1e3, "s"),
      "planning.exchanges" -> (perPass(total(plans, "exchanges")), "count"),
      "planning.roundrobin_exchanges" -> (perPass(total(plans, "roundrobin_exchanges")), "count"),
      "planning.unpartitioned_windows" -> (perPass(total(plans, "unpartitioned_windows")), "count"),
      "sources.scan_bytes" -> (perPass(total(stages, "input_bytes")), "bytes"),
      "sources.scan_rows" -> (perPass(scanRows), "count"),
      "sources.scan_partitions" -> (perPass(total(stages, "input_tasks")), "count"),
      "sources.rows_examined_per_row_returned" -> (scanRows / math.max(rowsReturned, 1.0), "ratio"),
      "sources.get_bytes_read" ->
        (total(stages.filter(s => getOpIds.contains(s.op)), "input_bytes") /
          math.max(getOpIds.size, 1), "bytes"),
      "model.write_s" -> (perPass(of("write").map(_.ms).sum) / 1e3, "s"),
      "model.bytes_written" -> (perPass(total(of("write"), "bytes")), "bytes"),
      "operators.Compaction.compact_s" -> (perPass(of("compact").map(_.ms).sum) / 1e3, "s"),
      "operators.Compaction.bytes_rewritten" -> (perPass(total(of("compact"), "bytes")), "bytes"),
      "exec.jobs" -> (perPass(jobs.size), "count"),
      "exec.stages" -> (perPass(stages.size), "count"),
      "exec.tasks" -> (perPass(total(stages, "tasks")), "count"),
      "exec.task_s" -> (perPass(stageTaskMs) / 1e3, "s"),
      "exec.cpu_s" -> (perPass(total(stages, "cpu_ms")) / 1e3, "s"),
      "exec.gc_s" -> (perPass(total(stages, "gc_ms")) / 1e3, "s"),
      "exec.core_busy_ratio" ->
        (stageTaskMs / math.max(stages.map(_.ms).sum * cores, 1.0), "ratio"),
      "exec.skew_max_over_median" ->
        (if (skewWeight <= 0) 1.0 else skewed.map { s =>
          s.counts("task_ms") * s.counts("task_ms_max") / s.counts("task_ms_median")
        }.sum / skewWeight, "ratio"),
      "exec.driver_gap_s" -> (perPass(driverGapMs) / 1e3, "s"),
      "exchange.shuffle_write_bytes" -> (perPass(total(stages, "shuffle_write_bytes")), "bytes"),
      "exchange.shuffle_read_bytes" -> (perPass(total(stages, "shuffle_read_bytes")), "bytes"),
      "exchange.fetch_wait_s" -> (perPass(total(stages, "fetch_wait_ms")) / 1e3, "s"),
      "exchange.spill_bytes" -> (perPass(total(stages, "spill_bytes")), "bytes")
    ) ++ Workloads.modules.map(m => s"operators.${m}_s" -> (perPass(byModule(m)) / 1e3, "s"))
  }
}

/** Kernel probes: one public function of `graft.functions` evaluated over
  * its fixture column, materialized beforehand and widened so the kernel
  * and not the job overhead dominates, through the noop sink. Reports the
  * median of three evaluations in ms. */
object KernelProbes {
  private val Widen = 20
  private val Reps = 3

  def run(spark: SparkSession, tracer: Tracer, parent: Span, fx: String): Map[String, Double] = {
    import graft.functions.{AnnKernelFunctions, GraftFunctions, MinHashFunctions,
      NormalizeFunctions, SimHashFunctions, VectorFunctions}
    def widened(df: DataFrame): DataFrame = {
      val w = df.crossJoin(spark.range(Widen).toDF("_copy")).drop("_copy")
        .repartition(spark.sparkContext.defaultParallelism).cache()
      w.count()
      w
    }
    val docs = widened(spark.read.parquet(s"$fx/documents.parquet")
      .select(col("text"), split(lower(col("text")), "\\s+").as("tokens")))
    val docHashes = widened(docs.select(MinHashFunctions.shingle_hashes(col("tokens"), 5).as("h")))
    val vecs = widened(spark.read.parquet(s"$fx/embeddings.parquet").select(col("embedding")))
    // a fixed 8-subspace, 16-centroid codebook over the 64-d embeddings
    val r = new scala.util.Random(7)
    val books = Seq.fill(8)(Seq.fill(16)(Seq.fill(8)(r.nextGaussian().toFloat)))
    val coded = widened(vecs.select(
      AnnKernelFunctions.pq_encode(col("embedding"), books).as("codes"),
      AnnKernelFunctions.adc_tables(col("embedding"), books).as("tables")))
    val keys = widened(graft.model.CellTable.fromTable(spark, fx, "customer").select("rowKey"))

    val probes: Seq[(String, () => DataFrame)] = Seq(
      "shingle_hashes" -> (() => docs.select(MinHashFunctions.shingle_hashes(col("tokens"), 5))),
      "minhash" -> (() => docHashes.select(MinHashFunctions.minhash(col("h"), 64))),
      "simhash" -> (() => docs.select(SimHashFunctions.simhash64(col("tokens")))),
      "normalize_text" -> (() => docs.select(NormalizeFunctions.normalize_text(col("text")))),
      "pq_encode" -> (() => vecs.select(AnnKernelFunctions.pq_encode(col("embedding"), books))),
      "adc_score" -> (() => coded.select(AnnKernelFunctions.adc_score(col("codes"), col("tables")))),
      "dot_product" -> (() => vecs.select(VectorFunctions.dot_product(col("embedding"), col("embedding")))),
      "to_string_binary" -> (() => keys.select(GraftFunctions.to_string_binary(col("rowKey")))))
    val result = probes.map { case (name, df) =>
      val ms = (0 until Reps).map { _ =>
        tracer.op(parent, s"probe $name") { _ =>
          val t0 = System.nanoTime()
          df().write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e6
        }
      }
      name -> Stats.median(ms)
    }.toMap
    Seq(docs, docHashes, vecs, coded, keys).foreach(_.unpersist())
    result
  }
}
