package graft.tools

import org.apache.spark.sql.SparkSession

/** Micro-profiler for the optimization rounds: split a registered query's
  * wall time into fn-construction (driver: plan building + any eager side
  * work) vs noop-sink execution (cluster: the plan itself), over a few
  * passes. `runMain graft.tools.PhaseTimer <sfDir> <q1,q2,...> [passes]`. */
object PhaseTimer {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',')
    val passes = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir) // untimed warm pass: eager builds out of the way
      (1 to passes).foreach { p =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        println(
          f"$name pass $p: fn=${(t1 - t0) / 1e9}%.3f s exec=${(t2 - t1) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
