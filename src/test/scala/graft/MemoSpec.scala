package graft

import java.util.concurrent.{CountDownLatch, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._

/** The [[Memo]] build-once contract, [[WorkDirs.once]] and
  * [[DriverPool.buildAll]]. */
class MemoSpec extends AnyFunSuite {

  test("a build that throws leaves no entry, and the next call rebuilds") {
    val m = new Memo[String, Int]
    intercept[IllegalStateException](m("k")(throw new IllegalStateException("boom")))
    assert(m.built.isEmpty && m.only.isEmpty)
    assert(m("k")(7) == 7)
    assert(m("k")(8) == 7, "a recorded entry is not rebuilt")
  }

  test("concurrent callers of one key run the build once") {
    val m = new Memo[String, Int]
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = (1 to 16).map(_ => new Thread(() => {
      start.await()
      results.add(m("k") { Thread.sleep(50); builds.incrementAndGet() })
      ()
    }))
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(builds.get == 1)
    assert(results.size == 16 && results.stream().allMatch(_ == 1))
  }

  test("only is the value with exactly one entry, None with 0 or 2") {
    val m = new Memo[String, String]
    assert(m.only.isEmpty)
    m("a")("A")
    assert(m.only.contains("A"))
    m("b")("B")
    assert(m.only.isEmpty)
  }

  test("remove forgets a key") {
    val m = new Memo[String, Int]
    m("k")(1)
    m.remove("k")
    assert(m("k")(2) == 2)
  }

  test("a build that calls another Memo's apply completes") {
    val outer = new Memo[String, Int]
    val inner = new Memo[String, Int]
    assert(outer("k")(inner("k")(3) + 1) == 4)
    // nested builds of other keys in the SAME memo complete too
    assert(outer("a")(outer("b")(5) + 1) == 6)
    assert(outer.built.toMap == Map("k" -> 4, "a" -> 6, "b" -> 5))
  }

  test("a DataFrame built under a stopped session is rebuilt under the new one") {
    // stopping a SparkContext is JVM-wide, so this runs in a second JVM
    val out = ChildJvm.run("graft.MemoFramesProbe", Nil, timeoutS = 120)
    val last = out.linesIterator.filter(_.startsWith("memo ")).toSeq.lastOption
    assert(last.contains("memo builds=2 rows=3 rebuiltUnderNew=true"),
      s"probe output: $out")
  }

  test("WorkDirs.once does not mark a dir built when its write throws") {
    val name = s"memo_spec_${System.nanoTime}"
    intercept[IllegalStateException](
      WorkDirs.once(name)(_ => throw new IllegalStateException("partial")))
    val writes = new AtomicInteger()
    val d = WorkDirs.once(name)(_ => writes.incrementAndGet())
    assert(WorkDirs.once(name)(_ => writes.incrementAndGet()) == d)
    assert(writes.get == 1 && d == WorkDirs.dir(name))
  }

  test("DriverPool returns results in builder order") {
    val out = DriverPool.buildAll("order_gate",
      (1 to 5).map(i => () => { Thread.sleep((5 - i) * 20L); i }))
    assert(out == (1 to 5))
  }

  test("a DriverPool timeout fails naming the gate") {
    val e = intercept[TimeoutException](DriverPool.buildAll("slow_gate",
      Seq(() => Thread.sleep(10000)), timeout = 100.millis))
    assert(e.getMessage.contains("slow_gate"))
  }
}

/** Second-JVM half of the stopped-session test: one frame memo entry built
  * under a session that is then stopped, read again under a new session. */
object MemoFramesProbe {
  def main(args: Array[String]): Unit = {
    def session(): SparkSession = SparkSession.builder()
      .master("local[1]").appName("memo-probe")
      .config("spark.ui.enabled", "false").getOrCreate()
    val frames = Memo.frames[String]
    var builds = 0
    def frame(s: SparkSession) = frames("k") { builds += 1; s.range(3).toDF() }
    val s1 = session()
    frame(s1); frame(s1)
    s1.stop()
    val s2 = session()
    val again = frame(s2)
    println(s"memo builds=$builds rows=${again.count()} " +
      s"rebuiltUnderNew=${again.sparkSession.sparkContext eq s2.sparkContext}")
    s2.stop()
  }
}
