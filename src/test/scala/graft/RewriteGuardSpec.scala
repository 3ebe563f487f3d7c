package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the table format's staged publish in one place: in
  * `SnapshotLog.scala` the staged write, its listing, the staged
  * files' size stats and the legacy-key collision check are called
  * only inside the staged-rewrite step (the `Rewrite` case class and
  * `stageRewrite`, which every rewriting writer calls). A writer that
  * hand-copies the publish again fails here, and so does a listed
  * exception that went away (the list stays true). */
class RewriteGuardSpec extends AnyFunSuite {
  private val Source = Paths.get("src/main/scala/graft/sources/SnapshotLog.scala")
  private val Calls = Seq("stagePartitioned(", "listStaged(", "sizeStats(",
    "requireNoLegacyCollision(")

  /** call → (occurrences outside the step, why). */
  private val Allowed: Map[String, (Int, String)] = Map.empty

  /** Code lines, comments blanked (line numbers kept). */
  private def code(lines: Seq[String]): Seq[String] = lines.map { l =>
    val t = l.trim
    if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
    else l.indexOf("//") match { case -1 => l; case i => l.take(i) }
  }

  /** Line range [from, to] of the step: the `Rewrite` case class down
    * to the brace that closes `stageRewrite`. */
  private def stepRange(lines: Seq[String]): (Int, Int) = {
    val from = lines.indexWhere(_.contains("final case class Rewrite("))
    val defAt = lines.indexWhere(_.contains("def stageRewrite("))
    assert(from >= 0 && defAt > from,
      "the Rewrite case class must precede stageRewrite in SnapshotLog.scala")
    var depth = 0
    var opened = false
    var to = defAt
    while (!(opened && depth == 0)) {
      lines(to).foreach {
        case '{' => depth += 1; opened = true
        case '}' => depth -= 1
        case _ =>
      }
      if (!(opened && depth == 0)) to += 1
    }
    (from, to)
  }

  test("the staged publish is called only inside the rewrite step") {
    assert(Files.isRegularFile(Source), s"run from the project root: ${Source.toAbsolutePath}")
    val lines = code(Files.readAllLines(Source, StandardCharsets.UTF_8).asScala.toSeq)
    val (from, to) = stepRange(lines)
    val hits = for {
      (line, i) <- lines.zipWithIndex
      c <- Calls
      if line.contains(c) && !line.contains(s"def $c")
    } yield (c, i + 1, i >= from && i <= to)
    val inside = hits.filter(_._3).map(_._1).toSet
    assert(Calls.forall(inside), s"the step must call each of ${Calls.mkString(", ")}")
    val outside = hits.filterNot(_._3)
    val where = outside.map { case (c, n, _) => s"SnapshotLog.scala:$n $c" }.mkString("\n")
    assert(outside.groupBy(_._1).map { case (c, v) => c -> v.size } ==
      Allowed.map { case (c, v) => c -> v._1 },
      s"staged-publish calls outside the rewrite step:\n$where")
  }
}
