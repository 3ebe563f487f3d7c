package graft.io

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` file system: Hadoop's checksummed
  * `LocalFileSystem` over a raw file system that sets permissions
  * through `java.nio` instead of a `chmod` child process.
  *
  * Without native Hadoop IO, the stock `RawLocalFileSystem` forks
  * `chmod` for every create and every mkdir (both end in
  * `setPermission`), so a write of many small files — one Parquet file
  * per day partition, a commit's staged files, manifests and `.crc`
  * siblings — is dominated by process starts. The bits written are the
  * same: Hadoop's umask is applied before `setPermission`, which then
  * sets them exactly.
  *
  * Every session (`spark.hadoop.fs.file.impl`, set in
  * [[graft.GraftSessions.local]] and the build's JVM options) and every
  * conf main builds ([[LocalFs.hadoopConf]]) resolves `file:` here.
  * Hadoop's `FileSystem` cache is keyed by scheme, authority and user,
  * not by conf, so the first `file:` lookup in a JVM picks the class
  * for the whole process: one conf without the key that asks first
  * would pin the jar-registered default instead.
  *
  * Left on the stock paths, because the engine does not reach them:
  * `setOwner` (forks `chown`) and the owner/group/permission of a
  * listed status (`ls -ld` on first `getPermission`, `getOwner` or
  * `getGroup`). */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {

  /** The contract of Hive's `ProxyLocalFileSystem`, the class the
    * service loader registers for `file:` on this classpath: a rename
    * onto an existing file fails and leaves both files in place. */
  override def rename(src: Path, dst: Path): Boolean =
    !isFileAt(dst) && super.rename(src, dst)

  private def isFileAt(p: Path): Boolean =
    try getFileStatus(p).isFile
    catch { case _: FileNotFoundException => false }
}

object LocalFs {

  /** A Hadoop conf that resolves `file:` to [[LocalFs]]: the only place
    * main builds a bare `Configuration`, for callers that run without a
    * session (a `_READY` poll). */
  def hadoopConf(): Configuration = {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[LocalFs].getName)
    conf
  }

  private val RwxBits = 0x1ff // 0777

  /** `RawLocalFileSystem` with a fork-free `setPermission` for the nine
    * rwx bits. A sticky bit, or a store without a POSIX view, takes the
    * stock path. Open, so a file system under another scheme can reuse
    * it with its own `getUri`. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      if ((permission.toShort & ~RwxBits) != 0 || view == null) super.setPermission(p, permission)
      else
        // with only rwx bits set, toString is the nine-letter form
        // ("rwxr-x---") that fromString reads
        try view.setPermissions(PosixFilePermissions.fromString(permission.toString))
        catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
    }
  }
}
