package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.CellTable

/** The cell store reads one loaded Hadoop configuration per JVM
  * ([[graft.sources.HadoopConf.shared]]): GETs and store writes must load
  * none of their own. */
class HadoopConfSpec extends AnyFunSuite with SparkTestBase {

  test("cell-store GETs and an 8-region store write load no Hadoop configuration") {
    // the probe installs its class loader before any Spark or Hadoop class
    // loads a configuration, so it runs in a second JVM
    val out = ChildJvm.run("graft.HadoopConfProbe", Seq(sf001), timeoutS = 300)
    val last = out.linesIterator.filter(_.startsWith("conf loads ")).toSeq.lastOption
    assert(last.contains("conf loads gets=0 write=0"), s"probe output: $out")
  }
}

/** Second-JVM half of [[HadoopConfSpec]]: counts `core-default.xml` lookups
  * (one per configuration load) through the context class loader while
  * running 20 warm GETs and a second 8-region write of a `customer` store
  * built from the fixture directory `args(0)`. */
object HadoopConfProbe {
  def main(args: Array[String]): Unit = {
    val loads = new AtomicLong()
    val counting = new ClassLoader(Thread.currentThread.getContextClassLoader) {
      override def getResource(name: String): java.net.URL = {
        if (name == "core-default.xml") loads.incrementAndGet()
        super.getResource(name)
      }
    }
    Thread.currentThread.setContextClassLoader(counting)
    val spark = SparkSession.builder()
      .master("local[2]").appName("hadoop-conf-probe")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    val dir = java.nio.file.Files.createTempDirectory("hadoop_conf_probe").toString + "/store"
    def write(): Unit = CellTable.fromTable(spark, args(0), "customer")
      .write.format("cellstore").option("numRegions", "8").mode("overwrite").save(dir)
    def get(key: Array[Byte]): Unit = spark.read.format("cellstore").load(dir)
      .filter(col("rowKey") === lit(key)).collect()
    write()
    val keys = spark.read.format("cellstore").load(dir).select("rowKey").distinct()
      .orderBy("rowKey").limit(25).collect().map(_.getAs[Array[Byte]](0))
    keys.take(5).foreach(get)
    val g0 = loads.get
    keys.drop(5).foreach(get)
    val gets = loads.get - g0
    val w0 = loads.get
    write()
    println(s"conf loads gets=$gets write=${loads.get - w0}")
    spark.stop()
  }
}
