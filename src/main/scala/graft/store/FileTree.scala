package graft.store

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Directory-tree helpers shared by the commit protocols. */
private[graft] object FileTree {

  /** Delete `p` and everything under it, children first. A missing path is
    * a no-op, so callers clearing a stage dir need no existence check. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  /** `p` and every file and directory under it (empty when missing) — the
    * tree a commit forces before naming it. */
  def all(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }
}
