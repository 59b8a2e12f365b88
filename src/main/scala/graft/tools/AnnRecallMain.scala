package graft.tools

import org.apache.spark.sql.SparkSession

/** Diagnostic: print the [[graft.queries.AnnQueries.recall]] gate rows for a
  * fixture directory — the measurement loop behind every scaled-parameter
  * decision (plane counts, IVF nlist/nprobe, rerank budgets). Not part of
  * the driver contract; run ad hoc with the spark jars plus
  * target/scala-2.13/classes on the classpath:
  * `java -cp "$SPARK_JARS:classes" graft.tools.AnnRecallMain localdata/sf1` */
object AnnRecallMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: AnnRecallMain <sfDir> [cpus]")
    val cpus = if (args.length > 1) args(1) else "32"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    graft.queries.AnnQueries.recall.build(spark, args(0)).show(50, false)
    println(f"[ann-recall] total ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
