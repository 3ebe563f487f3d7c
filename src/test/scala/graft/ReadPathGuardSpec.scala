package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the table format on one read path: under `sources/` and
  * `streaming/`, files the format wrote are read by the scan typed by
  * the manifest's schema (`SnapshotRelation.scanFiles`), never by a
  * read that infers a schema from file footers. An inferring read —
  * `option("mergeSchema", "true")` or a bare `read.parquet(` — may
  * appear only at the sites below, which read files no manifest
  * describes. A new inferring read of table files fails here, and so
  * does a listed site that went away (the list stays true). */
class ReadPathGuardSpec extends AnyFunSuite {
  private val MergeSchema = """option("mergeSchema", "true")"""
  private val BareParquet = ".read.parquet("

  /** (file, pattern) → (occurrences, why the read may infer). */
  private val Allowed: Map[(String, String), (Int, String)] = Map(
    ("SnapshotLog.scala", MergeSchema) -> (3,
      "CONVERT reads foreign parquet files before any manifest exists; " +
        "readCdf and readCdfRange read `_cdf/` feed versions, whose " +
        "schema the manifest does not record"),
    ("CommitLogStream.scala", MergeSchema) -> (1,
      "the change-feed stream reads `_cdf/` feed versions"),
    ("EventStreams.scala", MergeSchema) -> (2,
      "event streams sink to plain parquet directories"),
    ("Catalog.scala", BareParquet) -> (1,
      "registerExternal registers a plain parquet directory"))

  test("inferring reads appear only at the listed sites") {
    val roots = Seq("sources", "streaming")
      .map(d => Paths.get(s"src/main/scala/graft/$d"))
    roots.foreach(r =>
      assert(Files.isDirectory(r), s"run from the project root: ${r.toAbsolutePath}"))
    val hits: Seq[(String, String, Int)] = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        Files.readAllLines(f, StandardCharsets.UTF_8).asScala.zipWithIndex.flatMap {
          case (line, i) =>
            val code = line.trim
            if (code.startsWith("*") || code.startsWith("/*") || code.startsWith("//")) Nil
            else Seq(MergeSchema, BareParquet).filter(code.contains)
              .map(p => (f.getFileName.toString, p, i + 1))
        }
      } finally files.close()
    }
    val counts = hits.groupBy(h => (h._1, h._2)).map { case (k, v) => k -> v.size }
    val where = hits.map { case (f, p, n) => s"$f:$n $p" }.mkString("\n")
    assert(counts == Allowed.map { case (k, v) => k -> v._1 },
      s"inferring reads differ from the allowed sites:\n$where")
  }
}
