package graft.sources

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileUtil, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system dressed as an object store, under the
  * [[ObjectStoreFs.Scheme]] scheme: `rename` copies and then deletes
  * (not atomic, as on S3), and `create(overwrite = false)` is exclusive,
  * as a conditional put is. The durable-artifact publish must hold on it
  * without relying on rename. */
class ObjectStoreFs extends RawLocalFileSystem {
  override def getUri: URI = ObjectStoreFs.Root
  override def getScheme: String = ObjectStoreFs.Scheme

  override def rename(src: Path, dst: Path): Boolean =
    FileUtil.copy(this, src, this, dst, true, getConf)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (!overwrite) putIfAbsent(f)
    super.create(f, true, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (!overwrite) putIfAbsent(f)
    super.create(f, permission, true, bufferSize, replication, blockSize, progress)
  }

  /** The conditional put: O_EXCL, so of N racing creators one succeeds. */
  private def putIfAbsent(f: Path): Unit = {
    mkdirs(f.getParent)
    try java.nio.file.Files.createFile(pathToFile(f).toPath)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new FileAlreadyExistsException(s"$f already exists")
    }
  }
}

object ObjectStoreFs {
  val Scheme = "graftobj"
  val Root: URI = URI.create(s"$Scheme:///")
  val ImplKey = s"fs.$Scheme.impl"

  def register(conf: Configuration): Unit = conf.set(ImplKey, classOf[ObjectStoreFs].getName)

  /** The absolute local path `local` on this file system. */
  def path(local: String): String = s"$Scheme://$local"
}
