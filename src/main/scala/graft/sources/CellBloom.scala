package graft.sources

import graft.functions.{MinHashImpl, SimHashImpl}
import org.apache.hadoop.fs.Path

/**
 * Per-file rowKey Bloom filters for the cell store — the HFile-bloom
 * analogue (HBase's `BLOOMFILTER => 'ROW'`): a point GET whose key is
 * INSIDE a file's [min, max] range but absent from the file can skip the
 * file without opening it. Range stats can't serve that case; blooms can.
 *
 * Mechanics:
 *  - each write task folds its rowKeys into a fixed 128 Kbit / 7-hash
 *    filter (~1% false positives up to ~13 k distinct keys per file —
 *    region files are key-partitioned, so per-file cardinality is bounded
 *    by layout, not corpus) and ships it in the commit message;
 *  - each data file's filter lives in its own hidden SIDECAR
 *    (`.<file>.parquet.bloom`, 16 KiB of raw little-endian-free longs):
 *    a commit writes exactly its own files' sidecars and deletes exactly
 *    its superseded files' — cost ∝ the batch, independent of how many
 *    files the store already holds. (A single shared manifest would be a
 *    driver-side O(all-files) read-modify-write per commit and an
 *    O(all-files) parse per scan planning — the 100 TB metadata-path
 *    killer.) Sidecars die with their data file, so there is no stale-entry
 *    GC path to maintain, and nothing is ever re-encoded or re-parsed as
 *    JSON;
 *  - scan planning consults sidecars ONLY for pushed/runtime exact keys
 *    (GET / IN), one 16 KiB read per candidate file: on a salted store the
 *    candidates are the files of the buckets the keys hash to; on a range
 *    store they are ALL data files, and only the bloom survivors' parquet
 *    footers are read for range pruning next — a GET then reads about one
 *    footer per hit instead of one per region. A file with no sidecar is
 *    "may contain" — blooms are pure IO elision, never a correctness
 *    dependency, and the residual filter (or the local scan's key check)
 *    re-checks every row anyway. A
 *    racing truncate/append at worst leaves an orphan sidecar (ignored:
 *    lookups go data-file → sidecar, never the reverse) or a missing one
 *    (degrades to "may contain").
 *
 * Hashing: Kirsch–Mitzenmacher double hashing over (fnv1a64, mix64|1) of
 * the key bytes — the same public-construction kernels the dedup tier
 * uses, one byte-scan per key.
 */
object CellBloom {

  val BloomSuffix = ".bloom"
  val NumBits: Int = 1 << 17
  val NumWords: Int = NumBits / 64
  val NumHashes: Int = 7

  def empty(): Array[Long] = new Array[Long](NumWords)

  @inline private def bitOf(h: Long): Int = ((h & Long.MaxValue) % NumBits).toInt

  def add(bits: Array[Long], key: Array[Byte]): Unit = {
    val h1 = SimHashImpl.fnv1a64(key)
    val h2 = MinHashImpl.mix64(h1) | 1L
    var h = h1
    var i = 0
    while (i < NumHashes) {
      h += h2
      val b = bitOf(h)
      bits(b >>> 6) |= 1L << (b & 63)
      i += 1
    }
  }

  def mayContain(bits: Array[Long], key: Array[Byte]): Boolean = {
    val h1 = SimHashImpl.fnv1a64(key)
    val h2 = MinHashImpl.mix64(h1) | 1L
    var h = h1
    var i = 0
    while (i < NumHashes) {
      h += h2
      val b = bitOf(h)
      if ((bits(b >>> 6) & (1L << (b & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Sidecar of a data file: hidden (leading dot ⇒ invisible to Spark/
    * Hadoop file listings) and name-derived, so lookup needs no index. */
  def sidecarPath(dir: Path, dataFileName: String): Path =
    new Path(dir, "." + dataFileName + BloomSuffix)

  private def isSidecar(name: String): Boolean =
    name.startsWith(".") && name.endsWith(BloomSuffix)

  /** Read ONE candidate file's bloom — 16 KiB, only ever called under a
    * GET/IN key set, before the file's footer is read (see the object doc
    * for which files are candidates). One `getFileStatus` per sidecar.
    * None (no/short/unreadable sidecar) means "may contain". */
  private[graft] def readOne(dir: Path, dataFileName: String): Option[Array[Long]] =
    try {
      val fs = HadoopConf.fs(dir)
      val p = sidecarPath(dir, dataFileName)
      // a missing sidecar throws FileNotFoundException, caught below
      if (fs.getFileStatus(p).getLen != NumWords.toLong * 8) None
      else {
        val in = fs.open(p)
        try {
          val bytes = new Array[Byte](NumWords * 8)
          in.readFully(0, bytes)
          val bb = java.nio.ByteBuffer.wrap(bytes)
          Some(Array.fill(NumWords)(bb.getLong()))
        } finally in.close()
      }
    } catch {
      // pure IO elision: a missing or unreadable sidecar degrades to
      // "may contain"
      case _: java.io.IOException => None
    }

  private def writeOne(dir: Path, dataFileName: String, bits: Array[Long]): Unit = {
    val fs = HadoopConf.fs(dir)
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    val out = fs.create(sidecarPath(dir, dataFileName), true)
    try out.write(bb.array()) finally out.close()
  }

  /** Commit-time update: write the new files' sidecars, delete the
    * superseded files' — nothing else is touched, so commit cost is
    * O(batch), not O(store). A truncate clears every sidecar first (it
    * rewrites the whole store anyway). */
  private[sources] def update(
      dir: Path,
      added: Map[String, Array[Long]],
      removed: Set[String],
      reset: Boolean): Unit = {
    val fs = HadoopConf.fs(dir)
    if (reset && fs.exists(dir))
      fs.listStatus(dir)
        .filter(s => s.isFile && isSidecar(s.getPath.getName))
        .foreach(s => fs.delete(s.getPath, false))
    else removed.foreach(n => fs.delete(sidecarPath(dir, n), false))
    added.foreach { case (n, bits) => writeOne(dir, n, bits) }
  }

  /** Sidecar names for the given data files, where present — what a
    * snapshot export copies along. */
  private[graft] def sidecarsOf(dir: Path, dataFiles: Seq[String]): Seq[String] = {
    val fs = HadoopConf.fs(dir)
    dataFiles.map(n => sidecarPath(dir, n).getName)
      .filter(n => fs.exists(new Path(dir, n)))
  }
}
