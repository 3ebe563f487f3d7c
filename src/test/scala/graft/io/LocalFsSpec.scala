package graft.io

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] against the stock classes it replaces: the same POSIX
  * bits as Hadoop's `LocalFileSystem` for everything it creates, and the
  * `rename` of Hive's `ProxyLocalFileSystem`, the class the service
  * loader picks for `file:` on this classpath. Modes are compared, not
  * hard-coded, so the spec holds under any umask. */
class LocalFsSpec extends AnyFunSuite {

  private def init(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  /** Mode bits (rwx, sticky, setuid, setgid) of every entry under `root`. */
  private def modes(root: JPath): Map[String, Int] = tree(root) { p =>
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  }

  /** Every entry under `root` (not `root` itself) by relative path. */
  private def tree[A](root: JPath)(f: JPath => A): Map[String, A] = {
    val all = Files.walk(root)
    try all.iterator.asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> f(p)).toMap
    finally all.close()
  }

  /** `work` on a fresh directory under the stock `LocalFileSystem` and
    * under [[LocalFs]]; the two trees' modes. */
  private def parity(work: (FileSystem, Path) => Unit): (Map[String, Int], Map[String, Int]) = {
    def run(fs: FileSystem) = {
      val dir = Files.createTempDirectory("graft_localfs")
      work(fs, new Path(dir.toUri))
      modes(dir)
    }
    (run(init(new LocalFileSystem)), run(init(new LocalFs)))
  }

  private def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def perm(octal: String) = new FsPermission(octal)

  test("files and their .crc siblings get the stock bits") {
    val (stock, graft) = parity { (fs, d) =>
      write(fs, new Path(d, "day=1/part-0.parquet"), "rows")
      val out = fs.create(new Path(d, "day=2/part-1.parquet"), perm("640"), true,
        4096, 1.toShort, 1L << 20, null)
      out.close()
    }
    assert(graft.contains("day=1/.part-0.parquet.crc"), graft)
    assert(graft.contains("day=2/.part-1.parquet.crc"), graft)
    assert(graft == stock)
  }

  test("mkdirs with and without a permission get the stock bits") {
    val (stock, graft) = parity { (fs, d) =>
      assert(fs.mkdirs(new Path(d, "a/b/c")))
      assert(fs.mkdirs(new Path(d, "private/x"), perm("700")))
      assert(fs.mkdirs(new Path(d, "open"), perm("777")))
    }
    assert(graft.keySet == Set("a", "a/b", "a/b/c", "private", "private/x", "open"))
    assert(graft == stock)
  }

  test("an explicit setPermission sets the stock bits") {
    val (stock, graft) = parity { (fs, d) =>
      for (mode <- Seq("644", "700", "755")) {
        val f = new Path(d, s"f$mode")
        write(fs, f, mode)
        fs.setPermission(f, perm(mode))
        val dir = new Path(d, s"d$mode")
        fs.mkdirs(dir)
        fs.setPermission(dir, perm(mode))
      }
    }
    assert(graft("f700") == Integer.parseInt("700", 8))
    assert(graft == stock)
  }

  test("rwx-only work starts no process; a sticky directory takes the stock path") {
    val fs = init(new LocalFs)
    val d = new Path(Files.createTempDirectory("graft_localfs").toUri)
    val plain = ProcessStarts.during {
      write(fs, new Path(d, "a/f"), "x")
      fs.mkdirs(new Path(d, "b"), perm("700"))
      fs.setPermission(new Path(d, "a/f"), perm("600"))
    }
    assert(plain.isEmpty, plain.mkString("\n"))

    val (stock, graft) = parity { (fs, d) =>
      val t = new Path(d, "tmp")
      fs.mkdirs(t)
      val sticky = ProcessStarts.during(fs.setPermission(t, perm("1777")))
      assert(sticky.nonEmpty, "the 1777 mode is set by the stock chmod")
    }
    assert(graft("tmp") == Integer.parseInt("1777", 8))
    assert(graft == stock)
  }

  test("a missing path fails setPermission with FileNotFoundException") {
    val fs = init(new LocalFs)
    val d = new Path(Files.createTempDirectory("graft_localfs").toUri)
    intercept[java.io.FileNotFoundException](fs.setPermission(new Path(d, "nope"), perm("644")))
  }

  test("rename behaves as Hive's ProxyLocalFileSystem") {
    /** (result, resulting tree with contents) of one rename scenario. */
    def outcome(fs: FileSystem, scenario: String): (Boolean, Map[String, String]) = {
      val dir = Files.createTempDirectory("graft_rename")
      val d = new Path(dir.toUri)
      def file(name: String) = write(fs, new Path(d, name), name)
      def subdir(name: String) = { fs.mkdirs(new Path(d, name)); file(s"$name/inner") }
      val (src, dst) = scenario match {
        case "file onto file" => file("src"); file("dst"); ("src", "dst")
        case "file onto missing" => file("src"); ("src", "dst")
        case "file onto dir" => file("src"); subdir("dst"); ("src", "dst")
        case "dir onto missing" => subdir("src"); ("src", "dst")
        case "dir onto file" => subdir("src"); file("dst"); ("src", "dst")
        case "dir onto dir" => subdir("src"); subdir("dst"); ("src", "dst")
      }
      val ok = fs.rename(new Path(d, src), new Path(d, dst))
      (ok, tree(dir)(p =>
        if (Files.isDirectory(p)) "<dir>" else new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
    }
    val scenarios = Seq("file onto file", "file onto missing", "file onto dir",
      "dir onto missing", "dir onto file", "dir onto dir")
    val graft = scenarios.map(s => s -> outcome(init(new LocalFs), s)).toMap
    val hive = scenarios.map(s => s -> outcome(init(new ProxyLocalFileSystem), s)).toMap
    val (onFile, both) = graft("file onto file")
    assert(!onFile)
    assert(both("src") == "src" && both("dst") == "dst", "both files intact")
    assert(graft("file onto missing")._1 && graft("dir onto missing")._1)
    assert(!graft("dir onto file")._1)
    scenarios.foreach(s => assert(graft(s) == hive(s), s))
  }
}
