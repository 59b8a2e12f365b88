package graft

/**
 * Per-JVM-unique scratch root for query-pack store artifacts (inverted
 * index, IVF/IVF×PQ layouts, cell stores, z-order layouts).
 *
 * These used to live at fixed names (`/tmp/graft_ivf_<sf>` …), which is a
 * cross-process race: a bench JVM and a verify JVM running concurrently at
 * the same scale factor could overwrite a store mid-read (`mode(
 * "overwrite")` deletes before it writes). `createTempDirectory` never
 * returns an existing path, so every JVM builds — and reads — only its own
 * copies; within a JVM [[once]] amortizes a build across bench passes. The
 * root is removed on JVM exit (best-effort, like any tmp artifact).
 */
object WorkDirs {

  lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_qp_")
    sys.addShutdownHook {
      def del(f: java.io.File): Unit = {
        val cs = f.listFiles()
        if (cs != null) cs.foreach(del)
        f.delete(); ()
      }
      del(p.toFile)
    }
    p
  }

  /** Absolute path of a named scratch dir under this JVM's unique root;
    * characters outside `[A-Za-z0-9_]` in `name` become `_`. */
  def dir(name: String): String =
    root.resolve(name.replaceAll("[^A-Za-z0-9_]", "_")).toString

  private val built = new Memo[String, String]

  /** [[dir]]`(name)`, after `write` has filled it once in this JVM (the
    * [[Memo]] build-once policy: a write that throws leaves the dir
    * unmarked, so the next call writes it again). */
  def once(name: String)(write: String => Unit): String = {
    val d = dir(name)
    built(d) { write(d); d }
  }
}
