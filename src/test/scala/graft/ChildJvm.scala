package graft

import java.util.concurrent.TimeUnit

/** Runs a probe main in a second JVM on the test classpath, for checks that
  * need JVM-wide state of their own (a fresh class loader, a stopped or
  * differently sized SparkContext). */
object ChildJvm {
  /** Stdout and stderr of `mainClass args` run with this JVM's flags and a
    * 1 GiB heap; fails if the probe outlives `timeoutS`. */
  def run(mainClass: String, args: Seq[String], timeoutS: Long): String = {
    val javaBin = new java.io.File(new java.io.File(
      sys.props("java.home"), "bin"), "java").getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray(Array.empty[String])
      .filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), mainClass) ++ args
    // output goes to a file, so a probe that never closes its stdout still
    // meets the timeout
    val log = java.io.File.createTempFile("child_jvm", ".log")
    try {
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(log).start()
      if (!p.waitFor(timeoutS, TimeUnit.SECONDS)) {
        p.destroyForcibly()
        throw new AssertionError(s"probe JVM $mainClass hung")
      }
      new String(java.nio.file.Files.readAllBytes(log.toPath))
    } finally log.delete()
  }
}
