package graft

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CheckpointFiles

/** A local filesystem under the made-up scheme `graftfake:`, so the
  * non-`file` branch of [[CheckpointFiles]] can be tested without a
  * cluster. Its FileContext binding is [[GraftFakeAfs]]. */
class GraftFakeFs extends RawLocalFileSystem {
  override def getScheme: String = "graftfake"
  override def getUri: URI = URI.create("graftfake:///")
}

class GraftFakeAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftFakeFs, conf, "graftfake", false)

/** [[GraftSession]] routes streaming checkpoint files through
  * [[CheckpointFiles]]: Spark's FileSystem-based manager for the local
  * filesystem, Spark's own choice for every other scheme. */
class CheckpointFilesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkTestSession.spark

  private val key = "spark.sql.streaming.checkpointFileManagerClass"

  /** The Hadoop conf Spark hands the session's checkpoint managers;
    * without the key, `CheckpointFileManager.create` makes Spark's own
    * choice. */
  private def hadoopConf(unpinned: Boolean = false): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    if (unpinned) c.unset(key)
    c
  }

  private def tmp(): String = Files.createTempDirectory("ckpt-files").toString

  test("the graft session installs CheckpointFiles as the checkpoint file manager") {
    assert(spark.conf.getOption(key) === Some(classOf[CheckpointFiles].getName))
    val fm = CheckpointFileManager.create(new Path(tmp()), hadoopConf())
    assert(fm.isInstanceOf[CheckpointFiles])
  }

  /** The FileSystem under the local delegate of a manager on `dir`
    * (the manager's `fs` is Scala-protected, public in bytecode). */
  private def localFs(dir: String, conf: Configuration): FileSystem = {
    val fm = new CheckpointFiles(new Path(dir), conf).delegate
    classOf[FileSystemBasedCheckpointFileManager].getMethod("fs").invoke(fm).asInstanceOf[FileSystem]
  }

  test("local paths, with or without a scheme, go through the FileSystem-based manager") {
    val dir = tmp()
    for (p <- Seq(s"file://$dir", dir)) {
      val fm = new CheckpointFiles(new Path(p), hadoopConf())
      assert(fm.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager], p)
      // by name, so the same assertion runs against a build without the class
      assert(localFs(p, hadoopConf()).getClass.getName ===
        "graft.streaming.NoForkLocalFileSystem", p)
    }
  }

  private def perms(f: File): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))

  test("local creates, mkdirs and setPermission give what Hadoop's chmod gives") {
    /** A file (with its .crc) and a directory made through `fs`, and
      * `fs.setPermission` on a file made outside it; name -> rwx string. */
    def apply(fs: FileSystem, dir: String, perm: FsPermission): Map[String, String] = {
      fs.create(new Path(dir, "f"), perm, false, 4096, 1.toShort, 1L << 20, null).close()
      assert(fs.mkdirs(new Path(dir, "d"), perm))
      Files.createFile(new File(dir, "s").toPath)
      fs.setPermission(new Path(dir, "s"), perm)
      new File(dir).listFiles().map(f => f.getName -> perms(f)).toMap
    }
    for (umask <- Seq(None, Some("077")); mode <- Seq(0x1a4, 0x180, 0x1ed, 0x1c0, 0x1ff)) {
      // 0644, 0600, 0755, 0700, 0777
      val conf = hadoopConf()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val perm = new FsPermission(mode.toShort)
      val dir = tmp()
      val ours = apply(localFs(dir, conf), dir, perm)
      // Hadoop's stock LocalFileSystem: RawLocalFileSystem.setPermission forks chmod
      val stock = new LocalFileSystem
      stock.initialize(URI.create("file:///"), conf)
      val theirs = apply(stock, tmp(), perm)
      assert(ours.keySet === Set("f", ".f.crc", "d", "s"))
      // mkdirs applies the umask
      if (umask.nonEmpty) assert(ours("d").endsWith("------"), ours)
      assert(ours === theirs, f"umask ${umask.getOrElse("default")}, mode 0$mode%o")
    }
  }

  test("a mode with the sticky bit takes Hadoop's chmod path") {
    val dir = tmp()
    val fs = localFs(dir, hadoopConf())
    val d = new Path(dir, "d")
    assert(fs.mkdirs(d, new FsPermission(0x1ed.toShort)))
    fs.setPermission(d, new FsPermission(0x3ed.toShort)) // 01755
    // the nio permission set has no sticky bit; only chmod sets it
    val unixMode = Files.getAttribute(new File(dir, "d").toPath, "unix:mode").asInstanceOf[Int]
    assert((unixMode & 0xfff) === 0x3ed, f"mode 0${unixMode & 0xfff}%o")
  }

  test("any other scheme gets the manager Spark picks without the key") {
    def withFake(c: Configuration): Configuration = {
      c.set("fs.graftfake.impl", classOf[GraftFakeFs].getName)
      c.setBoolean("fs.graftfake.impl.disable.cache", true)
      c.set("fs.AbstractFileSystem.graftfake.impl", classOf[GraftFakeAfs].getName)
      c
    }
    val p = new Path(s"graftfake://${tmp()}")
    val sparks = CheckpointFileManager.create(p, withFake(hadoopConf(unpinned = true)))
    // the scheme has a FileContext binding, so Spark's choice is not the
    // FileSystem-based manager the local branch would pick
    assert(sparks.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(new CheckpointFiles(p, withFake(hadoopConf())).delegate.getClass === sparks.getClass)
  }

  test("on a local dir it keeps the default manager's createAtomic/cancel/list contract") {
    def scenario(mk: Path => CheckpointFileManager)
        : (Option[Class[_]], String, Set[String], Set[String], Boolean) = {
      val dir = new Path(tmp())
      val fm = mk(dir)
      def write(name: String, body: String, overwrite: Boolean): Unit = {
        val out = fm.createAtomic(new Path(dir, name), overwrite)
        out.write(body.getBytes(UTF_8))
        out.close()
      }
      def read(name: String): String = {
        val in = fm.open(new Path(dir, name))
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      write("a", "1", overwrite = false)
      val noOverwrite =
        try { write("a", "2", overwrite = false); None }
        catch { case e: Exception => Some(e.getClass) }
      write("a", "3", overwrite = true)
      write("b", "4", overwrite = false)
      val cancelled = fm.createAtomic(new Path(dir, "c"), overwriteIfPossible = false)
      cancelled.write("5".getBytes(UTF_8))
      cancelled.cancel()
      // every file on disk, hidden temp and .crc files included
      val onDisk = new File(dir.toUri.getPath).list().toSet
      // the refused write leaves its temp file `.a.<uuid>.tmp` (Spark's
      // log readers skip such names), so names compare with the uuid masked
      val listed = fm.list(dir).map(_.getPath.getName.replaceAll("[0-9a-f-]{36}", "*")).toSet
      (noOverwrite, read("a"), listed, onDisk, fm.isLocal)
    }
    val (exG, aG, listG, diskG, localG) = scenario(new CheckpointFiles(_, hadoopConf()))
    val (exD, aD, listD, _, _) =
      scenario(CheckpointFileManager.create(_, hadoopConf(unpinned = true)))
    // Spark's callers (HDFSMetadataLog's "concurrent update" check)
    // catch Hadoop's FileAlreadyExistsException; the FileSystem-based
    // manager throws its SparkFileAlreadyExistsException subclass
    val alreadyExists = classOf[org.apache.hadoop.fs.FileAlreadyExistsException]
    assert(exD.exists(alreadyExists.isAssignableFrom), s"default manager: $exD")
    assert(exG.exists(alreadyExists.isAssignableFrom), s"graft manager: $exG")
    assert(aG === "3" && aD === "3")
    assert(listG.filterNot(_.startsWith(".")) === Set("a", "b"))
    assert(listG === listD)
    // the temp file is `.c.<uuid>.tmp`, beside its `.crc`
    assert(!diskG.exists(n => n == "c" || n.startsWith(".c.")), s"cancel left files: $diskG")
    assert(localG)
  }
}
