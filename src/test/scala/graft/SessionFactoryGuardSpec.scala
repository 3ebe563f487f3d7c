package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps session construction in one place: every entry point gets its
  * session from [[GraftSessions.local]], so `SparkSession.builder`
  * appears in main sources only inside `GraftSessions.scala` — once in
  * the factory and once in `withExtensions`. A new hand-built session
  * (with its own core count, time zone or log level) fails here. */
class SessionFactoryGuardSpec extends AnyFunSuite {
  test("SparkSession.builder appears only in GraftSessions, exactly twice") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val files = Files.walk(root)
    val hits: Seq[(Path, Int)] =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        Files.readAllLines(f, StandardCharsets.UTF_8).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder") => (f, i + 1)
        }
      } finally files.close()
    val where = hits.map { case (f, n) => s"$f:$n" }.mkString("\n")
    assert(hits.size == 2, where)
    assert(hits.forall(_._1.getFileName.toString == "GraftSessions.scala"), where)
  }
}
