package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every publish point in main code goes through [[graft.store.Commit]]: a
  * marker by `seal`, a small file by `replace`. Outside `graft.store` the
  * only directory renames are the two reviewed ones, each a
  * `CommitCrashMatrixSpec` row. A hand-written marker or rename fails here. */
class CommitSitesSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")

  /** (file under `graft/`, trimmed line) of every main line holding `token`. */
  private def hits(token: String): Seq[(String, String)] = {
    require(Files.isDirectory(root), s"main sources not found at ${root.toAbsolutePath}")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .flatMap(p => Files.readAllLines(p).asScala.filter(_.contains(token))
        .map(l => (root.relativize(p).toString, l.trim)))
    finally s.close()
  }

  test("createFile( appears only under graft/store") {
    assert(hits("createFile(").exists(_._1.startsWith("store/")), "the guard matches nothing")
    val outside = hits("createFile(").filterNot(_._1.startsWith("store/"))
    assert(outside.isEmpty, s"hand-written markers (use Commit.seal): $outside")
  }

  test("Files.move outside graft/store: only CompactSwap.roll and the EosProjection batch move") {
    val outside = hits("Files.move").filterNot(_._1.startsWith("store/"))
    assert(outside.map(_._1).sorted == Seq("streaming/CompactSwap.scala", "streaming/Subscribe.scala"),
      s"unreviewed renames: $outside")
  }
}
