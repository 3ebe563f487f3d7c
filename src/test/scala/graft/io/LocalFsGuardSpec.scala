package graft.io

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.SparkSpec

/** Keeps `file:` on [[LocalFs]] everywhere the engine resolves it.
  * Hadoop caches one `file:` instance per JVM and user, whichever conf
  * asks first, so a single conf without the key can pin the stock class
  * for the whole process. */
class LocalFsGuardSpec extends SparkSpec {

  private def mainSources: Seq[java.nio.file.Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally files.close()
  }

  test("new Configuration() appears in main only inside LocalFs.hadoopConf") {
    val hits = mainSources.flatMap { f =>
      Files.readAllLines(f, StandardCharsets.UTF_8).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("new Configuration()") => s"$f:${i + 1}"
      }
    }
    assert(hits.size == 1, hits.mkString("\n"))
    assert(hits.head.startsWith("src/main/scala/graft/io/LocalFs.scala:"), hits.head)
  }

  test("build.sbt installs LocalFs for every JVM it launches") {
    val build = new String(Files.readAllBytes(Paths.get("build.sbt")), StandardCharsets.UTF_8)
    val key = "-Dspark.hadoop.fs.file.impl="
    val values = key.r.findAllMatchIn(build).map(m =>
      build.substring(m.end).takeWhile(c => c != '"' && !c.isWhitespace)).toSeq
    assert(values == Seq(classOf[LocalFs].getName))
  }

  test("the session's confs and LocalFs.hadoopConf resolve file:/// to LocalFs") {
    val confs = Seq(
      "sparkContext.hadoopConfiguration" -> spark.sparkContext.hadoopConfiguration,
      "sessionState.newHadoopConf()" -> spark.sessionState.newHadoopConf(),
      "LocalFs.hadoopConf()" -> LocalFs.hadoopConf())
    confs.foreach { case (what, conf: Configuration) =>
      assert(FileSystem.getFileSystemClass("file", conf) == classOf[LocalFs], what)
      // the JVM-wide cached instance, whichever conf resolved it first
      assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[LocalFs], what)
      assert(new Path("/tmp").getFileSystem(conf).isInstanceOf[LocalFs], what)
    }
  }
}
