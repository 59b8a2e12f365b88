package graft.operators

import org.apache.hadoop.fs.{FileUtil, Path}

import graft.sources.{CellStoreSource, HadoopConf}

/**
 * Point-in-time snapshot/export of a cell store — the HBase
 * snapshot/ExportSnapshot analogue for the columnar store (the reference
 * toolkit operates on live tables; an engine that OWNS its store needs an
 * export path for backup and offline analysis).
 *
 * Committed store files are immutable (the writer renames job-unique names
 * in; rewrites produce NEW names and delete old ones), so a snapshot is
 * simply the file list at a moment in time: pin the list, copy those files
 * plus the salt manifest. Appends landing mid-copy are invisible to the
 * snapshot (their names are not in the pinned list). If an incremental
 * compaction deletes a pinned file before it is copied, the copy fails
 * loudly rather than exporting a hole — rerun the export (or schedule
 * exports and compactions off each other, as HBase does).
 *
 * Immutability also buys INCREMENTAL snapshots (HBase ExportSnapshot's
 * skip-existing discipline): a later snapshot physically copies only the
 * files the prior chain does not already hold, and records in its
 * `SNAPSHOT_MANIFEST` where every logical file lives (itself or an
 * earlier snapshot dir). At 100 TB the nightly export ships the day's
 * new store files, never the corpus; [[restore]] walks one manifest and
 * materializes a complete working store, failing loudly on a missing or
 * size-drifted holder file instead of restoring a hole.
 */
object StoreSnapshot {

  /** Per-snapshot catalog: one `name<TAB>length<TAB>holderDir` line per
    * logical file (data, bloom sidecars, salt manifest). */
  val ManifestFile = "SNAPSHOT_MANIFEST"

  /** The snapshot's logical file list as (name, length, holder dir). */
  def manifest(snapshotDir: String): Seq[(String, Long, String)] = {
    val mp = new Path(snapshotDir, ManifestFile)
    val in = HadoopConf.fs(mp).open(mp)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.split("\n").filter(_.nonEmpty).toSeq.map { line =>
      val Array(n, l, h) = line.split("\t", 3)
      (n, l.toLong, h)
    }
  }

  /** Copy the store at `path` to `dest` as of now; returns the exported
    * file names. `dest` must not already contain a store. */
  def export(path: String, dest: String): Seq[String] =
    exportIncremental(path, dest, Nil)

  /**
   * Snapshot `path` into `dest`, physically copying ONLY files absent
   * from the `prior` snapshot chain (oldest → newest; a name+length hit
   * in a LATER snapshot wins). Returns the names physically copied.
   * Every logical file — copied or inherited — lands in `dest`'s
   * manifest, so a restore needs only this snapshot.
   */
  def exportIncremental(path: String, dest: String,
      prior: Seq[String]): Seq[String] = {
    val src = new Path(path)
    val dst = new Path(dest)
    val sfs = HadoopConf.fs(src)
    val dfs = HadoopConf.fs(dst)
    require(sfs.exists(src), s"no store at $path")
    require(!dfs.exists(dst) || dfs.listStatus(dst).isEmpty,
      s"snapshot destination $dest is not empty")
    dfs.mkdirs(dst)
    // name+length → holder across the prior chain, newest chain entry wins
    val held = scala.collection.mutable.Map[(String, Long), String]()
    prior.foreach(p => manifest(p).foreach { case (n, l, h) =>
      held((n, l)) = h })
    val pinned = CellStoreSource.dataFiles(sfs.listStatus(src).toSeq).map(_.getPath.getName)
    // side metadata travels with the data files (absent entries are fine:
    // a store without a salt manifest is a range store, one without bloom
    // sidecars just loses point-GET file elision). The salt manifest and
    // sidecars are snapshot-specific state, never inherited.
    val meta = graft.sources.CellBloom.sidecarsOf(src, pinned) ++
      Seq(CellStoreSource.MetaFile).filter(n => sfs.exists(new Path(src, n)))
    val entries = (pinned ++ meta).map { name =>
      val len = sfs.getFileStatus(new Path(src, name)).getLen
      val inherited = if (meta.contains(name)) None else held.get((name, len))
      (name, len, inherited)
    }
    val copied = entries.collect { case (name, _, None) =>
      if (!FileUtil.copy(sfs, new Path(src, name), dfs, new Path(dst, name),
          false, false, HadoopConf.shared))
        throw new java.io.IOException(
          s"snapshot export: copy of $name from $path to $dest failed")
      name
    }
    val lines = entries.map { case (name, len, holder) =>
      s"$name\t$len\t${holder.getOrElse(dest)}"
    }
    val out = dfs.create(new Path(dst, ManifestFile), false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    copied
  }

  /** Materialize a complete working store at `dest` from one snapshot's
    * manifest — every file fetched from its recorded holder, with the
    * recorded length re-checked so a tampered or garbage-collected
    * holder fails the restore instead of silently restoring a hole. */
  def restore(snapshotDir: String, dest: String): Seq[String] = {
    val dst = new Path(dest)
    val dfs = HadoopConf.fs(dst)
    require(!dfs.exists(dst) || dfs.listStatus(dst).isEmpty,
      s"restore destination $dest is not empty")
    dfs.mkdirs(dst)
    manifest(snapshotDir).map { case (name, len, holder) =>
      val srcFile = new Path(holder, name)
      val hfs = HadoopConf.fs(srcFile)
      require(hfs.exists(srcFile),
        s"restore: $name missing from holder $holder")
      val actual = hfs.getFileStatus(srcFile).getLen
      require(actual == len,
        s"restore: $name in $holder has length $actual, manifest says $len")
      if (!FileUtil.copy(hfs, srcFile, dfs, new Path(dst, name), false, false, HadoopConf.shared))
        throw new java.io.IOException(s"restore: copy of $name failed")
      name
    }
  }
}
