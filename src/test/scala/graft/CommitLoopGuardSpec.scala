package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the commit log's retry protocol in one place: every retrying
  * writer goes through `SnapshotLog.commitLoop`, so under
  * `src/main/scala` the retry bound `attempt < maxRetries` appears once
  * (in the helper), and version allocation `nextVersion(` appears only
  * in `SnapshotLog.scala`, at its definition, in the helper and in
  * `createTable`'s single-shot claim. A hand-rolled read–allocate–
  * publish–retry loop fails here. */
class CommitLoopGuardSpec extends AnyFunSuite {
  private def hits(needle: String): Seq[(Path, Int, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      Files.readAllLines(f, StandardCharsets.UTF_8).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => (f, i + 1, line.trim)
      }
    } finally files.close()
  }

  private def where(hs: Seq[(Path, Int, String)]): String =
    hs.map { case (f, n, l) => s"$f:$n $l" }.mkString("\n")

  test("the retry bound appears once, in commitLoop") {
    val hs = hits("attempt < maxRetries")
    assert(hs.size == 1, where(hs))
    assert(hs.head._1.getFileName.toString == "SnapshotLog.scala", where(hs))
  }

  test("nextVersion( appears only at its definition, in commitLoop and in createTable") {
    val hs = hits("nextVersion(")
    assert(hs.forall(_._1.getFileName.toString == "SnapshotLog.scala"), where(hs))
    assert(hs.size == 3, where(hs))
    assert(hs.exists(_._3.startsWith("private def nextVersion(")), where(hs))
    assert(hs.exists(_._3.contains("nextVersion(fs, bp, base.fold(0L)(_.version))")),
      where(hs))
    assert(hs.exists(_._3.contains("nextVersion(fs, bp, 0L)")), where(hs))
  }
}
