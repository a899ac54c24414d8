package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing._
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager._

/** The streaming checkpoint file manager that [[graft.GraftSession.builder]]
  * installs (`spark.sql.streaming.checkpointFileManagerClass`); Spark
  * builds one per checkpoint root through this `(Path, Configuration)`
  * constructor. A root that resolves to the local filesystem is served
  * by Spark's `FileSystemBasedCheckpointFileManager` over Hadoop's
  * `LocalFileSystem`, whose rename is `File.renameTo` (no process
  * spawned); any other scheme gets the manager Spark would pick without
  * this class, so HDFS keeps its FileContext `rename(OVERWRITE)`. The
  * measured reason sits at the setting. */
class CheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  // the scheme the path RESOLVES to: a schemeless path takes fs.defaultFS
  private[graft] val delegate: CheckpointFileManager =
    if (path.getFileSystem(conf).getScheme == "file") {
      // Hadoop's LocalFileSystem, not what the classpath registers for
      // file: Hive's ProxyLocalFileSystem returns false from a rename onto
      // an existing file, which the manager takes as a done overwrite (old
      // content kept). Uncached: the FileSystem cache ignores the conf.
      val local = new Configuration(conf)
      local.set("fs.file.impl", classOf[LocalFileSystem].getName)
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
