package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing._
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager._

/** The streaming checkpoint file manager that [[graft.GraftSession.builder]]
  * installs (`spark.sql.streaming.checkpointFileManagerClass`); Spark
  * builds one per checkpoint root through this `(Path, Configuration)`
  * constructor. A root that resolves to the local filesystem is served
  * by Spark's `FileSystemBasedCheckpointFileManager` over Hadoop's
  * `LocalFileSystem`, whose rename is `File.renameTo` (no process
  * spawned), with file and directory permissions set in process
  * ([[NoForkLocalFileSystem]]); any other scheme gets the manager Spark
  * would pick without this class, so HDFS keeps its FileContext
  * `rename(OVERWRITE)`. The measured reason sits at the setting. */
class CheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  // the scheme the path RESOLVES to: a schemeless path takes fs.defaultFS
  private[graft] val delegate: CheckpointFileManager =
    if (path.getFileSystem(conf).getScheme == "file") {
      // Hadoop's LocalFileSystem (with in-process permissions), not what
      // the classpath registers for file: Hive's ProxyLocalFileSystem
      // returns false from a rename onto an existing file, which the
      // manager takes as a done overwrite (old content kept). Uncached:
      // the FileSystem cache ignores the conf.
      val local = new Configuration(conf)
      local.set("fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      local.setBoolean("fs.file.impl.disable.cache", true)
      new FileSystemBasedCheckpointFileManager(path, local)
    } else {
      val unpinned = new Configuration(conf)
      unpinned.unset("spark.sql.streaming.checkpointFileManagerClass")
      CheckpointFileManager.create(path, unpinned)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

/** Hadoop's `LocalFileSystem` (checksummed, `File.renameTo` rename) whose
  * permission changes run in process. Without native libhadoop, Hadoop
  * 3.4's `RawLocalFileSystem.setPermission` forks `chmod` through
  * `Shell.execCommand`, and it is called on every create of a data file
  * and of its `.crc`, and on every directory `mkdirs` makes. */
private[graft] class NoForkLocalFileSystem extends LocalFileSystem(new NoForkLocalFileSystem.Raw)

private[graft] object NoForkLocalFileSystem {

  /** Sets the nine rwx bits with `Files.setPosixFilePermissions`: the same
    * `chmod(2)`, following symlinks as `chmod` does, without a process.
    * A mode with any higher bit (sticky, setuid, setgid) or a file store
    * that is not POSIX takes Hadoop's own path. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // bits above 0777
      else {
        // "rwxr-x---" from 0750: bit 8 is owner read
        val rwx = (0 until 9).map(i => if ((mode & (0x100 >> i)) != 0) "rwx"(i % 3) else '-').mkString
        try { Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx)); () }
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }
  }
}
