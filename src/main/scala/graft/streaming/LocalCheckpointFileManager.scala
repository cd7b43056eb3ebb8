package graft.streaming

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermission
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FSDataInputStream, FileStatus, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Spark's streaming checkpoint files (the offset and commit WAL, the
  * query `metadata`) on local disk, without forking a process per file
  * operation.
  *
  * Spark's default manager goes through Hadoop's `FileContext`. Without
  * Hadoop's native library, its local file system forks `chmod` for
  * every permission it sets and `readlink` for every rename, about a
  * dozen processes per WAL file and two WAL files per micro-batch. Here,
  * on the `file` scheme:
  *  - the temp file and its `.crc` sidecar are written by Hadoop's
  *    `LocalFileSystem`, whose permission calls go through `java.nio`;
  *  - publishing without overwrite is a hard link, which is atomic and
  *    never clobbers: an existing target throws Hadoop's
  *    `FileAlreadyExistsException`, the signal `HDFSMetadataLog` reads
  *    as a concurrent writer. Publishing with overwrite is an atomic
  *    move. The sidecar moves after its file;
  *  - `open`, `list` and `delete` go through `LocalFileSystem`, so reads
  *    verify CRCs and listings hide `.crc` files;
  *  - `mkdirs`, `exists` and `createCheckpointDirectory` use `java.nio`.
  * Like Spark's default on local disk, nothing is fsynced.
  *
  * Any other scheme goes to the manager `CheckpointFileManager.create`
  * picks when [[LocalCheckpointFileManager.ConfKey]] is unset.
  * [[GraftConsumer]] installs this class under that key.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
  extends CheckpointFileManager {

  private val impl: CheckpointFileManager =
    if (path.getFileSystem(hadoopConf).getUri.getScheme == "file")
      new LocalCheckpointFileManager.Local(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {
  /** The Spark SQL conf naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Hadoop's local file system that sets permissions with `java.nio`
    * instead of a forked `chmod`.
    */
  private final class NioPermissionFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort & 0x1ff
      // PosixFilePermission's order is owner rwx, group rwx, others rwx
      val perms = PosixFilePermission.values.filter(q => (bits & (0x100 >> q.ordinal)) != 0)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  private final class Local(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {
    private val fs = new LocalFileSystem(new NioPermissionFileSystem)
    fs.initialize(URI.create("file:///"), hadoopConf)

    private def file(p: Path): java.nio.file.Path = fs.pathToFile(p).toPath

    override def createAtomic(dst: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val tmp = new Path(dst.getParent, s".${dst.getName}.${UUID.randomUUID}.tmp")
      val out = fs.create(tmp, null, false, hadoopConf.getInt("io.file.buffer.size", 4096),
        fs.getDefaultReplication(tmp), fs.getDefaultBlockSize(tmp), null)
      new CancellableFSDataOutputStream(out) {
        private var terminated = false
        override def close(): Unit = synchronized {
          if (!terminated) {
            terminated = true
            try { underlyingStream.close(); publish(tmp, dst, overwriteIfPossible) }
            catch { case e: Throwable => discard(tmp); throw e }
          }
        }
        override def cancel(): Unit = synchronized {
          if (!terminated) {
            terminated = true
            try underlyingStream.close() catch { case _: Exception => () }
            discard(tmp)
          }
        }
      }
    }

    private def publish(tmp: Path, dst: Path, overwrite: Boolean): Unit = {
      if (overwrite) Files.move(file(tmp), file(dst), StandardCopyOption.ATOMIC_MOVE)
      else {
        try Files.createLink(file(dst), file(tmp))
        catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$dst already exists: ${e.getMessage}")
        }
        Files.delete(file(tmp))
      }
      Files.move(file(fs.getChecksumFile(tmp)), file(fs.getChecksumFile(dst)),
        StandardCopyOption.ATOMIC_MOVE)
    }

    private def discard(tmp: Path): Unit = {
      Files.deleteIfExists(file(tmp))
      Files.deleteIfExists(file(fs.getChecksumFile(tmp)))
    }

    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] = fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p))
    override def exists(p: Path): Boolean = Files.exists(file(p))
    override def delete(p: Path): Unit =
      try fs.delete(p, true) catch { case _: FileNotFoundException => () }
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(path)
      Files.createDirectories(file(qualified))
      qualified
    }
  }
}
