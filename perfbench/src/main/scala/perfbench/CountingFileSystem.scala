package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with every create, rename, delete, listing and
  * open counted, plus the bytes written through it. The traced run
  * installs it as `fs.file.impl`, so the program reaches it through the
  * same `file:` scheme and code paths it uses untraced. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  private def counted(out: FSDataOutputStream): FSDataOutputStream =
    new FSDataOutputStream(out, null) {
      override def close(): Unit = {
        bytesWritten.addAndGet(getPos)
        super.close()
      }
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    counted(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    counted(super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  }

  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(f)
  }

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    lists.incrementAndGet()
    super.listStatusIterator(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  val creates = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong
  val lists = new AtomicLong
  val opens = new AtomicLong
  val bytesWritten = new AtomicLong

  def snapshot(): Map[String, Double] = Map(
    "fs_creates" -> creates.get.toDouble, "fs_renames" -> renames.get.toDouble,
    "fs_deletes" -> deletes.get.toDouble, "fs_lists" -> lists.get.toDouble,
    "fs_opens" -> opens.get.toDouble, "fs_bytes_written" -> bytesWritten.get.toDouble)
}
