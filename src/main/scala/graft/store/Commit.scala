package graft.store

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

/** The one durable commit primitive. A manifest, cursor, offset, batch
  * marker or index pointer is a small file replaced whole; a roll-forward
  * marker is an empty file sealed once. Either way the data files it names
  * are forced before it.
  *
  * `replace(target, text)`: write `<target>.tmp`, fsync it, rename it over
  * the target with `ATOMIC_MOVE`, then fsync the parent directory. Readers
  * see the old or the new content, never a torn file; once `replace`
  * returns the new content survives a power loss (a rename can otherwise
  * reach the disk before the file it renames — Pillai et al., OSDI 2014).
  *
  * `force(paths)`: fsync each path (file or directory, not recursive) and
  * each path's parent directory. Callers pass the data files a manifest is
  * about to name, plus any directory they created, before the `replace`
  * that publishes them.
  *
  * `seal(marker, forcing)`: force `forcing`, create the empty `marker`,
  * then fsync its directory. A marker is a commit point only if the data
  * it names is durable before it is; a marker that already exists is an
  * error (the caller checks or clears it first).
  *
  * [[hook]] sees every step before it runs; tests throw from it to crash a
  * protocol at any step.
  */
private[graft] object Commit {

  /** A step about to run: `op` ∈ {write, sync, move, dirsync} for a
    * `replace` of `paths.head`, {create, dirsync} for a `seal` of
    * `paths.head`, or `force` of `paths`. */
  final case class Step(op: String, paths: Seq[Path])

  /** Per-thread step observer, unset outside tests. */
  private[graft] val hook = new ThreadLocal[Step => Unit]

  private def step(op: String, paths: Seq[Path]): Unit = {
    val h = hook.get
    if (h != null) h(Step(op, paths))
  }

  def replace(target: Path, text: String): Unit = {
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp")
    step("write", Seq(target))
    Files.writeString(tmp, text)
    step("sync", Seq(target))
    fsync(tmp)
    step("move", Seq(target))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    step("dirsync", Seq(target))
    fsync(target.toAbsolutePath.getParent)
  }

  def force(paths: Seq[Path]): Unit = {
    step("force", paths)
    val abs = paths.map(_.toAbsolutePath)
    abs.foreach(fsync)
    abs.map(_.getParent).distinct.filterNot(abs.contains).foreach(fsync)
  }

  def seal(marker: Path, forcing: Seq[Path]): Unit = {
    force(forcing)
    step("create", Seq(marker))
    Files.createFile(marker)
    step("dirsync", Seq(marker))
    fsync(marker.toAbsolutePath.getParent)
  }

  /** fsync a file or directory (Linux opens a directory read-only). */
  private def fsync(p: Path): Unit = {
    val ch = FileChannel.open(p, StandardOpenOption.READ)
    try ch.force(true) finally ch.close()
  }
}
