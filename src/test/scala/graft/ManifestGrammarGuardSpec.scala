package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the commit log's manifest grammar in one place: under
  * `sources/`, `plans/` and `streaming/`, a manifest tag literal
  * (`"#schema"`, `"#shard"`, `"#eof"`, …, quoted alone or opening a
  * tab-separated line) appears only in `ManifestCodec.scala`. A reader
  * that parses manifest text by hand fails here. Query code that
  * inspects the on-disk format from outside, as a foreign reader
  * would, is out of scope. */
class ManifestGrammarGuardSpec extends AnyFunSuite {
  private val Tags = Seq("schema", "op", "constraint", "txn", "prop", "colmap",
    "droppedcol", "feature", "ts", "shard", "sgroup", "txnfile", "eof")
  private val Literal = ("\"#(" + Tags.mkString("|") + """)(?:"|\\t)""").r

  test("manifest tag literals appear only in ManifestCodec") {
    val roots = Seq("sources", "plans", "streaming")
      .map(d => Paths.get(s"src/main/scala/graft/$d"))
    roots.foreach(r =>
      assert(Files.isDirectory(r), s"run from the project root: ${r.toAbsolutePath}"))
    val hits: Seq[(Path, Int, String)] = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        Files.readAllLines(f, StandardCharsets.UTF_8).asScala.zipWithIndex.flatMap {
          case (line, i) => Literal.findFirstIn(line).map(t => (f, i + 1, t))
        }
      } finally files.close()
    }
    val codec = hits.filter(_._1.getFileName.toString == "ManifestCodec.scala")
    val where = hits.map { case (f, n, t) => s"$f:$n $t" }.mkString("\n")
    assert(codec.map(_._3).toSet.size == Tags.size, s"codec lost a tag:\n$where")
    assert(hits.size == codec.size, s"tag literal outside ManifestCodec:\n$where")
  }
}
