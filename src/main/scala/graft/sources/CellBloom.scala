package graft.sources

import graft.functions.{MinHashImpl, SimHashImpl}
import org.apache.hadoop.fs.{FileStatus, Path}

/**
 * Per-file rowKey Bloom filters for the cell store — the HFile-bloom
 * analogue (HBase's `BLOOMFILTER => 'ROW'`): a point GET whose key is
 * INSIDE a file's [min, max] range but absent from the file can skip the
 * file without opening it. Range stats can't serve that case; blooms can.
 *
 * Mechanics:
 *  - each write task adds its rowKeys to a 128 Kbit / 7-hash filter and
 *    counts the file's distinct keys (rows arrive sorted, so one compare
 *    with the previous key; an unsorted caller only over-counts and keeps
 *    a larger filter). On close it FOLDS the filter to the smallest
 *    power-of-two number of 64-bit words that keeps at least
 *    [[MinBitsPerKey]] = 10 bits per distinct key (at most ~0.8% false
 *    positives with 7 hashes) — HBase's `BloomFilterChunk.compactBloom`.
 *    A fold ORs the upper half into the lower half; it is exact because a
 *    bit's index is the hash modulo a power of two. The 128 Kbit ceiling
 *    keeps ~1% false positives up to ~13 k distinct keys per file —
 *    region files are key-partitioned, so per-file cardinality is bounded
 *    by layout, not corpus. The folded filter ships in the commit message;
 *  - each data file's filter lives in its own hidden SIDECAR
 *    (`.<file>.parquet.bloom`, the filter's big-endian longs: 8 bytes for
 *    a one-key file, 256 for a ~188-key region, 16 KiB at the ceiling):
 *    a commit writes exactly its own files' sidecars and deletes exactly
 *    its superseded files' — cost ∝ the batch, independent of how many
 *    files the store already holds. (A single shared manifest would be a
 *    driver-side O(all-files) read-modify-write per commit and an
 *    O(all-files) parse per scan planning — the 100 TB metadata-path
 *    killer.) Sidecars die with their data file, so there is no stale-entry
 *    GC path to maintain, and nothing is ever re-encoded or re-parsed as
 *    JSON. A sidecar is written under a temporary name and renamed in, so
 *    a reader never sees a torn one whose length happens to be valid;
 *  - scan planning consults sidecars ONLY for pushed/runtime exact keys
 *    (GET / IN), one small read per candidate file, its length taken from
 *    the store listing planning already holds: on a salted store the
 *    candidates are the files of the buckets the keys hash to; on a range
 *    store they are ALL data files, and only the bloom survivors' parquet
 *    footers are read for range pruning next — a GET then reads about one
 *    footer per hit instead of one per region. A file with no sidecar, or
 *    one whose length fails [[validLength]], is "may contain" — blooms are
 *    pure IO elision, never a correctness dependency, and the residual
 *    filter (or the local scan's key check) re-checks every row anyway. A
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
  /** The fold's floor: a closed file keeps at least this many bits per
    * distinct key (HBase's `io.storefile.bloom.error.rate` = 0.01). */
  val MinBitsPerKey: Int = 10

  /** A write task's unfolded filter, at the ceiling size. */
  def empty(): Array[Long] = new Array[Long](NumWords)

  /** The bit a hash sets in a filter of `words` 64-bit words (a power of
    * two, so the modulus is a mask and folding is exact). */
  @inline private def bitOf(h: Long, words: Int): Int =
    (h & ((words.toLong << 6) - 1)).toInt

  def add(bits: Array[Long], key: Array[Byte]): Unit = {
    val h1 = SimHashImpl.fnv1a64(key)
    val h2 = MinHashImpl.mix64(h1) | 1L
    var h = h1
    var i = 0
    while (i < NumHashes) {
      h += h2
      val b = bitOf(h, bits.length)
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
      val b = bitOf(h, bits.length)
      if ((bits(b >>> 6) & (1L << (b & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Fold a full-size filter holding `distinctKeys` keys to the smallest
    * power-of-two word count with at least [[MinBitsPerKey]] bits per key:
    * word `i` ORs into word `i mod words`, the word a bit lands in when
    * the hash is taken modulo the smaller size. */
  def fold(bits: Array[Long], distinctKeys: Long): Array[Long] = {
    var words = 1
    while (words < bits.length && (words.toLong << 6) < distinctKeys * MinBitsPerKey)
      words <<= 1
    val out = java.util.Arrays.copyOf(bits, words)
    var i = words
    while (i < bits.length) { out(i & (words - 1)) |= bits(i); i += 1 }
    out
  }

  /** The one sidecar length rule: a power-of-two number of 64-bit words,
    * 1 to [[NumWords]]. Any other length reads as "may contain", and
    * [[graft.operators.StoreDoctor]] flags it. */
  def validLength(bytes: Long): Boolean = {
    val words = bytes / 8
    bytes % 8 == 0 && words >= 1 && words <= NumWords && (words & (words - 1)) == 0
  }

  private def sidecarName(dataFileName: String): String =
    "." + dataFileName + BloomSuffix

  /** Sidecar of a data file: hidden (leading dot ⇒ invisible to Spark/
    * Hadoop file listings) and name-derived, so lookup needs no index. */
  def sidecarPath(dir: Path, dataFileName: String): Path =
    new Path(dir, sidecarName(dataFileName))

  private def isSidecar(name: String): Boolean =
    name.startsWith(".") && name.endsWith(BloomSuffix)

  /** The byte length of each sidecar in a store listing, keyed by its data
    * file's name: what planning and the doctor read instead of one
    * `getFileStatus` per file. */
  private[graft] def sidecarLengths(listing: Seq[FileStatus]): Map[String, Long] =
    listing.iterator.map(s => (s, s.getPath.getName))
      .collect { case (s, n) if s.isFile && isSidecar(n) =>
        n.substring(1, n.length - BloomSuffix.length) -> s.getLen }
      .toMap

  /** Read ONE candidate file's bloom, `bytes` long by the store listing —
    * only ever called under a GET/IN key set, before the file's footer is
    * read (see the object doc for which files are candidates). None (a
    * length that fails [[validLength]], or an unreadable sidecar) means
    * "may contain". */
  private[graft] def readOne(dir: Path, dataFileName: String, bytes: Long): Option[Array[Long]] =
    if (!validLength(bytes)) None
    else try {
      val in = HadoopConf.fs(dir).open(sidecarPath(dir, dataFileName))
      try {
        val buf = new Array[Byte](bytes.toInt)
        in.readFully(0, buf)
        val bb = java.nio.ByteBuffer.wrap(buf)
        Some(Array.fill(buf.length / 8)(bb.getLong()))
      } finally in.close()
    } catch {
      // pure IO elision: a vanished or unreadable sidecar degrades to
      // "may contain"
      case _: java.io.IOException => None
    }

  /** Write under a temporary hidden name, then rename in: a reader sizes
    * the filter by the listed length, so it must never see a torn one. */
  private def writeOne(dir: Path, dataFileName: String, bits: Array[Long]): Unit = {
    val fs = HadoopConf.fs(dir)
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    val tmp = new Path(dir, sidecarName(dataFileName) + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(bb.array()) finally out.close()
    if (!fs.rename(tmp, sidecarPath(dir, dataFileName)))
      throw new java.io.IOException(s"cellstore commit: rename of $tmp failed")
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
