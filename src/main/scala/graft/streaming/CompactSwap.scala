package graft.streaming

import java.nio.file.{Files, Path}

import graft.store.{Commit, FileTree}

/** The staged-swap compaction protocol, once for every fold of a live
  * layout that has no pointer to swap (the maintained indexes gate
  * readers on their EOS marker; `Maintenance`'s flat artifacts are read
  * at a fixed path). An in-place fold would leave a window where the live
  * dir is half-overwritten, so [[compact]] writes COMPLETE staged dirs
  * next to the live ones, seals a marker over them, and only then swaps
  * dirs and applies the drops — marker deleted last.
  *
  * Crash windows:
  *  - before the seal's `create`: leftover staged dirs, live layout
  *    untouched — the next compact clears them, even when it then finds
  *    the layout up to date; readers are unaffected.
  *  - after it: [[Commit.seal]] forced every staged file before creating
  *    the marker, so a marker always names complete, durable staged dirs.
  *    [[roll]] is idempotent: a staged dir that still exists is swapped in
  *    (its live twin deleted first), one already moved is skipped (absence
  *    ⇔ already swapped), drops re-run harmlessly, and the swapped live
  *    dirs and their parents are forced before the marker is deleted, so
  *    the unlink can never reach the disk ahead of the renames. Readers
  *    and stream updates REQUIRE the marker's absence
  *    ([[requireQuiescent]]), so a half-swapped layout fails loud ("roll
  *    forward first") instead of reading an empty corpus.
  */
private[graft] object CompactSwap {

  /** The whole protocol: roll a crashed swap forward; clear the staged
    * dirs (without a marker they are a crashed stage's leftovers); return
    * if `upToDate` (read after that recovery); otherwise run `stage` to
    * write the staged dirs, seal `marker` over every staged file, and
    * [[roll]]. `swaps` are (live, staged) pairs; `drops` are deleted once
    * the swap is in. */
  def compact(marker: Path, swaps: Seq[(Path, Path)], drops: Seq[Path],
      upToDate: => Boolean)(stage: => Unit): Unit = {
    recover(marker, swaps, drops)
    swaps.foreach { case (_, staged) => FileTree.deleteRecursively(staged) }
    if (upToDate) return
    stage
    Commit.seal(marker, swaps.flatMap { case (_, staged) => FileTree.all(staged) })
    roll(marker, swaps, drops)
  }

  /** The maintained layouts' fast path: every live dir is already one
    * `batch=0` base and no drop is left to apply. It also stops the retry
    * right after [[recover]] from re-folding the base it just rolled in. */
  def folded(swaps: Seq[(Path, Path)], drops: Seq[Path]): Boolean =
    swaps.forall { case (live, _) => batchIds(live) == Seq(0L) } &&
      !drops.exists(Files.exists(_))

  /** Swap every still-staged dir into place, apply the drops, force the
    * live dirs, delete the marker. Idempotent (see header). */
  private def roll(marker: Path, swaps: Seq[(Path, Path)], drops: Seq[Path]): Unit = {
    for ((live, staged) <- swaps; if Files.exists(staged)) {
      FileTree.deleteRecursively(live)
      Files.move(staged, live)
    }
    drops.foreach(FileTree.deleteRecursively)
    Commit.force(swaps.map(_._1).filter(Files.exists(_)))
    Files.deleteIfExists(marker)
  }

  /** Roll a crashed swap forward (no-op without the marker). */
  private def recover(marker: Path, swaps: Seq[(Path, Path)], drops: Seq[Path]): Unit =
    if (Files.exists(marker)) roll(marker, swaps, drops)

  /** Top-level `batch=<n>` partition ids of a maintained layout. */
  def batchIds(dir: Path): Seq[Long] =
    if (!Files.exists(dir)) Nil
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong).toList.sorted
      finally s.close()
    }

  /** Fail-loud guard for probe/update paths: a present marker means a
    * crashed compact left the layout mid-swap. */
  def requireQuiescent(marker: Path): Unit =
    require(!Files.exists(marker),
      s"a crashed compact is staged at $marker — call compact() to roll " +
        "it forward before probing or streaming into this index")
}
