package graft.streaming

import java.nio.file.{Files, Path}

import graft.store.FileTree

/** The staged-swap protocol behind the maintained indexes' `compact()`:
  * the batch-partitioned stream layouts have no `_current` pointer to
  * swap (readers gate on the EOS marker instead), so an in-place fold
  * would leave a crash window where the standing dir is half-overwritten.
  * Instead the fold writes COMPLETE staged dirs next to the live ones,
  * drops a `_compact_staged` marker, and only then swaps dirs and clears
  * the applied tombstone artifacts — marker deleted last.
  *
  * Crash windows:
  *  - before the marker: leftover staged dirs, live layout untouched —
  *    the next compact deletes them and recomputes; probes unaffected.
  *  - after the marker: [[roll]] is idempotent — a staged dir that still
  *    exists is swapped in (its live twin deleted first); one already
  *    moved is skipped (the marker is only written once every staged dir
  *    is complete, so absence ⇔ already swapped); tombstone drops and the
  *    marker delete re-run harmlessly. Probes and stream updates REQUIRE
  *    the marker's absence ([[requireQuiescent]]) so a half-swapped
  *    layout fails loud ("roll forward first") instead of silently
  *    reading an empty corpus.
  */
private[graft] object CompactSwap {
  /** Swap every still-staged dir into place, clear the applied tombstone
    * artifacts, delete the marker. Idempotent (see header). */
  def roll(marker: Path, swaps: Seq[(Path, Path)], drops: Seq[Path]): Unit = {
    for ((live, staged) <- swaps; if Files.exists(staged)) {
      FileTree.deleteRecursively(live)
      Files.move(staged, live)
    }
    drops.foreach(FileTree.deleteRecursively)
    Files.deleteIfExists(marker)
  }

  /** Roll a crashed swap forward (no-op without the marker). */
  def recover(marker: Path, swaps: Seq[(Path, Path)], drops: Seq[Path]): Unit =
    if (Files.exists(marker)) roll(marker, swaps, drops)

  /** Top-level `batch=<n>` partition ids of a maintained layout — the
    * fragmentation axis compact() folds. The idempotent fast path tests
    * this against Seq(0): a retry right after [[recover]] rolled a
    * crashed swap forward would otherwise re-stage and re-roll the
    * already-folded base, doubling the rewrite cost for nothing. */
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
