package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The load seam's redistribution rule ([[graft.sources.Tables.load]]) does
  * not depend on the core count: only the heavy-per-row tables are ever
  * redistributed, and the relational tables load as read. */
class ScanSeamSpec extends AnyFunSuite with SparkTestBase {

  test("only documents and embeddings loads redistribute, at 8 and at 32 cores") {
    // sf0.1 tables are single files, each with fewer natural splits than
    // half of either core count, so the split test alone would redistribute
    // every one of them
    val sf0_1 = new java.io.File(new java.io.File(sf01).getParentFile, "sf0.1").getPath
    // the session's core count is JVM-wide, so it runs in a second JVM
    val out = ChildJvm.run("graft.ScanSeamProbe", Seq(sf0_1, "8", "32"), timeoutS = 300)
    val lines = out.linesIterator.filter(_.startsWith("roundrobin ")).toSeq
    val expected = ScanSeamProbe.Loads.map { t =>
      s"$t=${if (t == "documents" || t == "embeddings") 1 else 0}"
    }.mkString(" ")
    assert(lines == Seq(s"roundrobin local[8] $expected", s"roundrobin local[32] $expected"),
      s"probe output: $out")
  }
}

/** Second-JVM half of [[ScanSeamSpec]]: for each core count in `args.tail`,
  * opens a `local[n]` session and prints how many round-robin exchanges the
  * physical plan of each table's load holds, over the fixture directory
  * `args(0)`. Plans only: no job runs. */
object ScanSeamProbe {
  val Loads: Seq[String] = Seq("lineitem", "orders", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    args.tail.foreach { cores =>
      val spark = SparkSession.builder()
        .master(s"local[$cores]").appName("scan-seam-probe")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false").getOrCreate()
      val counts = Loads.map { t =>
        val plan = Tables.load(spark, sfDir, t).queryExecution.sparkPlan
        val n = plan.collect {
          case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
        }.size
        s"$t=$n"
      }
      println(s"roundrobin local[$cores] ${counts.mkString(" ")}")
      spark.stop()
    }
  }
}
