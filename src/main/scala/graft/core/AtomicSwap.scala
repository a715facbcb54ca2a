package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared crash-safe directory swap for every persisted-state writer
  * (merge sinks, fold sinks, watermark store, table compaction).
  *
  * Protocol: write the complete replacement to a side path, then
  * [[publish]] — move the live directory aside as the backup, rename
  * the replacement in, retire the backup. Never delete-then-rename: a
  * complete copy exists under one of the three names at every
  * interruption point, and [[heal]] restores the backup when a crash
  * landed between the two renames.
  *
  * Hadoop `FileSystem`s report most failures with a `false` return,
  * not an exception, so every mutation here is checked: a failed
  * rename must surface as an error instead of (a) reporting a
  * successful swap, or worse (b) proceeding to retire a backup that is
  * still the only copy of the data.
  */
object AtomicSwap {

  /** Raise when a Hadoop FS mutation reports failure by boolean — the
    * one checked-rename helper every swap site shares. */
  private[graft] def checked(ok: Boolean, what: String, path: Path): Unit =
    if (!ok) throw new java.io.IOException(s"$what failed for $path")

  /** The side path [[replace]] writes `target`'s replacement to. */
  private[graft] def sidePath(target: Path): Path =
    new Path(target.toString + "__new")

  /** The backup name [[replace]] parks the live `target` under. */
  private[graft] def backupPath(target: Path): Path =
    new Path(target.toString + "__old")

  /** Restore `target` from `backup` if a previous [[publish]] was cut
    * between its two renames. Call before any read of `target`. */
  def heal(fs: FileSystem, target: Path, backup: Path): Unit =
    if (!fs.exists(target) && fs.exists(backup))
      checked(fs.rename(backup, target), "heal: restore backup", target)

  /** [[heal]] with [[replace]]'s backup name. */
  def heal(fs: FileSystem, target: Path): Unit =
    heal(fs, target, backupPath(target))

  /** The whole-table swap: heal `target`, let `write` fill the side
    * path with the COMPLETE replacement (a read of `target` inside
    * `write` sees the healed table), stamp each `(name, value)` marker
    * file into the side path, then [[publish]]. A marker rides inside
    * the directory it describes, so it moves with the data in the same
    * rename: "which batch did this table last apply" survives any
    * crash between the swap and a stream's checkpoint commit. */
  def replace[A](fs: FileSystem, target: Path,
      markers: Seq[(String, Long)] = Nil)(write: Path => A): A = {
    heal(fs, target)
    val side = sidePath(target)
    val result = write(side)
    markers.foreach { case (name, value) =>
      val out = fs.create(new Path(side, name), true)
      try out.write(value.toString.getBytes("UTF-8")) finally out.close()
    }
    publish(fs, target, side, backupPath(target))
    result
  }

  /** The marker `name` that [[replace]] stamped into `target`, read
    * after healing it; None when the table or its marker is absent.
    * Underscore-prefixed names keep the file invisible to parquet
    * readers of the table. */
  def marker(fs: FileSystem, target: Path, name: String): Option[Long] = {
    heal(fs, target)
    val m = new Path(target, name)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
      finally in.close()
    }
  }

  /** Swap `tmp` — a COMPLETE replacement, fully written and closed —
    * into `target`, using `backup` as the crash-window copy. */
  def publish(fs: FileSystem, target: Path, tmp: Path, backup: Path): Unit = {
    if (fs.exists(backup)) // stale backup from an earlier healed crash
      checked(fs.delete(backup, true), "retire stale backup", backup)
    if (fs.exists(target))
      checked(fs.rename(target, backup), "move live dir aside", target)
    checked(fs.rename(tmp, target), "publish replacement", target)
    if (fs.exists(backup))
      checked(fs.delete(backup, true), "retire backup", backup)
  }

  /** Best-effort recursive delete of a LOCAL temp tree (the shared
    * cleanup for scratch work dirs — bench fixtures, stress runs).
    * Does not follow symlinks out of the tree (listFiles returns the
    * link itself; delete removes the link, not its target). */
  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }
}
