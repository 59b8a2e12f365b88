package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. Kinds, outermost first: run, pass, op,
  * then build / plan / exec / write / compact under an op, then job and
  * stage under whichever op span caused them. `op` is the id of the op span
  * every descendant shares; `counts` holds the figures measured at this
  * boundary (rows, bytes, tasks, plan-node counts). */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
    val op: Int, val startMs: Double) {
  var endMs: Double = startMs
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  def ms: Double = endMs - startMs
}

/** In-memory span recorder plus the Spark listeners that feed it. Nothing is
  * recorded while `on` is false, so one session can alternate traced and
  * untraced passes. Spans stay in memory until [[Json.spans]] writes them. */
final class Tracer(spark: SparkSession) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  @volatile var on = false
  /** The op span whose events the listeners are currently attributing. */
  @volatile private var opSpan: Span = null

  val spans = mutable.ArrayBuffer.empty[Span]
  /** An op span is its own op: its `op` is its id. */
  private def newSpan(parent: Int, kind: String, name: String, op: Int, start: Double): Span =
    synchronized {
      val s = new Span(spans.size, parent, kind, name, if (kind == "op") spans.size else op, start)
      spans += s
      s
    }

  def open(parent: Span, kind: String, name: String): Span =
    if (!on) null
    else newSpan(Option(parent).map(_.id).getOrElse(-1), kind, name,
      Option(parent).map(_.op).getOrElse(-1), now())

  def close(s: Span): Unit = if (s != null) s.endMs = now()

  /** Runs `body` inside a span; the span is null (and free) when off. */
  def span[T](parent: Span, kind: String, name: String)(body: Span => T): T = {
    val s = open(parent, kind, name)
    try body(s) finally close(s)
  }

  /** Op boundary: after the op, wait for Spark to deliver its events so
    * the next op starts with nothing left to attribute. */
  def op[T](parent: Span, name: String)(body: Span => T): T = {
    val s = open(parent, "op", name)
    opSpan = s
    try body(s)
    finally {
      if (s != null) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      close(s)
      opSpan = null
    }
  }

  // ---- Spark scheduler events -------------------------------------------
  private val stageParent = mutable.Map.empty[Int, Span]
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  private val inputTasks = mutable.Map.empty[Int, Int].withDefaultValue(0)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opSpan
      if (op != null) {
        val j = newSpan(op.id, "job", s"job ${e.jobId}", op.id, e.time.toDouble)
        jobSpans(e.jobId) = j
        e.stageIds.foreach(id => stageParent.getOrElseUpdate(id, j))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpans.remove(e.jobId).foreach(_.endMs = e.time.toDouble)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageParent.contains(e.stageId) && e.taskInfo != null) {
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration.toDouble
        val m = e.taskMetrics
        if (m != null && (m.inputMetrics.recordsRead > 0 || m.inputMetrics.bytesRead > 0))
          inputTasks(e.stageId) += 1
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      stageParent.remove(info.stageId).foreach { job =>
        val s = newSpan(job.id, "stage", s"stage ${info.stageId}", job.op,
          info.submissionTime.getOrElse(job.startMs.toLong).toDouble)
        s.endMs = info.completionTime.map(_.toDouble).getOrElse(s.startMs)
        val durations = taskMs.remove(info.stageId).getOrElse(mutable.ArrayBuffer.empty)
        val m = info.taskMetrics
        s.counts ++= Seq(
          "tasks" -> info.numTasks.toDouble,
          "task_ms" -> m.executorRunTime.toDouble,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
          "input_rows" -> m.inputMetrics.recordsRead.toDouble,
          "input_tasks" -> inputTasks.remove(info.stageId).getOrElse(0).toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime.toDouble,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          "task_ms_max" -> (if (durations.isEmpty) 0.0 else durations.max),
          "task_ms_median" -> Stats.median(durations.toSeq))
      }
    }
  }

  // ---- Catalyst: planning phases and the final executed plan ------------
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val op = opSpan
      if (op != null) {
        val phases = qe.tracker.phases
        if (phases.nonEmpty) {
          val p = newSpan(op.id, "plan", funcName, op.id,
            phases.values.map(_.startTimeMs).min.toDouble)
          p.endMs = phases.values.map(_.endTimeMs).max.toDouble
          Seq("analysis", "optimization", "planning").foreach { ph =>
            p.counts(s"${ph}_ms") = phases.get(ph).map(_.durationMs.toDouble).getOrElse(0.0)
          }
          val nodes = Tracer.flatten(qe.executedPlan)
          val shuffles = nodes.collect { case e: ShuffleExchangeLike => e }
          p.counts("exchanges") = shuffles.size.toDouble
          p.counts("roundrobin_exchanges") = shuffles.count(
            _.outputPartitioning.getClass.getSimpleName.startsWith("RoundRobin")).toDouble
          p.counts("unpartitioned_windows") = nodes.count {
            case w: WindowExec => w.partitionSpec.isEmpty
            case w: WindowGroupLimitExec => w.partitionSpec.isEmpty
            case _ => false
          }.toDouble
          shuffles.foreach { e =>
            p.notes += s"${e.outputPartitioning} <- " +
              Tracer.scannedFiles(e.asInstanceOf[SparkPlan]).mkString(",")
          }
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }
}

object Tracer {
  /** Every node of an executed plan, looking through adaptive wrappers,
    * query stages and subqueries. Reused exchanges are not entered, so an
    * exchange that runs once counts once. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(flatten)
  }

  /** What the scans below `p` read (what an exchange redistributes): file
    * names for file scans, the table name for connector scans. */
  def scannedFiles(p: SparkPlan): Seq[String] =
    flatten(p).collect {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
      case s: BatchScanExec => Seq(s.table.name())
    }.flatten.distinct
}
