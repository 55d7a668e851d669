package graft.engine

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** [[NioRawLocalFileSystem]] against Hadoop's stock local classes: the same
  * files and answers, without forked processes. Every file system here is
  * built from its own conf (`FileSystem.newInstance`; `FileContext` is not
  * cached), never taken from Hadoop's per-scheme cache, so no assertion
  * depends on which suite touched `file:` first.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {
  private val root = URI.create("file:///")
  private val stockImpls = Map(
    "fs.file.impl" -> classOf[LocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs].getName)
  // none: every conf in the JVM already names the Nio classes (core-site.xml)
  private val nioImpls = Map.empty[String, String]

  private def conf(impls: Map[String, String], umask: String = "022"): Configuration = {
    val c = new Configuration()
    impls.foreach { case (k, v) => c.set(k, v) }
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def mode(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def withDir[T](body: File => T): T = {
    val dir = Files.createTempDirectory("nio-local-fs").toFile
    try body(dir) finally FileUtils.deleteDirectory(dir)
  }

  private def withFs[T](c: Configuration)(body: FileSystem => T): T = {
    val fs = FileSystem.newInstance(root, c)
    try body(fs) finally fs.close()
  }

  /** `jdk.ProcessStart` events that `body` raises on this thread. */
  private def processStarts(body: => Unit): Int = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      val out = Files.createTempFile("process-starts", ".jfr")
      try {
        rec.dump(out)
        val me = Thread.currentThread().getId
        RecordingFile.readAllEvents(out).asScala
          .count(e => e.getThread != null && e.getThread.getJavaThreadId == me)
      } finally Files.delete(out)
    } finally rec.close()
  }

  /** Creates, makes directories and renames through `FileSystem`,
    * `FileContext` and Spark's checkpoint file manager.
    */
  private def fileOps(c: Configuration, dir: File): Unit = {
    val base = new Path(dir.toURI)
    withFs(c) { fs =>
      fs.mkdirs(new Path(base, "fs/a/b"))
      fs.create(new Path(base, "fs/a/f")).close()
      fs.rename(new Path(base, "fs/a/f"), new Path(base, "fs/a/b/g"))
    }
    val fc = FileContext.getFileContext(base.toUri, c)
    fc.mkdir(new Path(base, "fc/a"), FsPermission.getDirDefault, true)
    fc.create(new Path(base, "fc/a/f"), EnumSet.of(CreateFlag.CREATE)).close()
    fc.rename(new Path(base, "fc/a/f"), new Path(base, "fc/a/g"), Options.Rename.OVERWRITE)
    val cfm = CheckpointFileManager.create(new Path(base, "cfm"), c)
    cfm.mkdirs(new Path(base, "cfm/offsets"))
    for (batch <- 0 to 1) {
      val out = cfm.createAtomic(new Path(base, s"cfm/offsets/$batch"),
        overwriteIfPossible = true)
      out.write(batch)
      out.close()
    }
  }

  test("create, mkdirs and rename start no process; the stock classes do") {
    // a first, unrecorded round runs Hadoop's one-time static set-up, which
    // probes the host's shell (`setsid`) once per JVM
    withDir(dir => fileOps(conf(nioImpls), dir))
    val nio = withDir(dir => processStarts(fileOps(conf(nioImpls), dir)))
    val stock = withDir(dir => processStarts(fileOps(conf(stockImpls), dir)))
    assert(nio == 0)
    assert(stock > 0)
  }

  test("the same files and bits as the stock classes, after the conf's umask") {
    def tree(impls: Map[String, String], umask: String): Seq[(String, String)] =
      withDir { dir =>
        fileOps(conf(impls, umask), dir)
        val base = new Path(dir.toURI)
        withFs(conf(impls, umask)) { fs =>
          fs.mkdirs(new Path(base, "modes/plain"), mode("751"))
          fs.mkdirs(new Path(base, "modes/sticky"))
          fs.setPermission(new Path(base, "modes/sticky"), mode("1777"))
          fs.setPermission(new Path(base, "fs/a/b/g"), mode("604"))
        }
        val top = dir.toPath
        Files.walk(top).iterator().asScala.toSeq.map { p =>
          val bits = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
          top.relativize(p).toString -> f"$bits%04o"
        }.sorted
      }
    for (umask <- Seq("022", "027", "077")) {
      val nio = tree(nioImpls, umask)
      assert(nio == tree(stockImpls, umask), s"umask $umask")
      assert(nio.toMap.apply("modes/sticky") == "1777")
      assert(nio.toMap.apply("fs/a/b/g") == "0604")
    }
    assert(tree(nioImpls, "027").toMap.apply("fc/a/g") == "0640")
  }

  test("getFileLinkStatus answers as the stock readlink does") {
    def raw(fs: RawLocalFileSystem, c: Configuration): RawLocalFileSystem = {
      fs.initialize(root, c); fs
    }
    def seen(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink) else None, s.getLen)
    withDir { dir =>
      Files.write(new File(dir, "file").toPath, Array[Byte](1, 2, 3))
      new File(dir, "dir").mkdir()
      Files.createSymbolicLink(new File(dir, "link").toPath, new File(dir, "file").toPath)
      Files.createSymbolicLink(new File(dir, "dangling").toPath, new File(dir, "none").toPath)
      val c = conf(nioImpls)
      val (stock, nio) = (raw(new RawLocalFileSystem, c), raw(new NioRawLocalFileSystem, c))
      for {
        name <- Seq("file", "dir", "missing", "link", "dangling")
        f = new File(dir, name)
        path <- Seq(new Path(f.toURI), new Path(f.getAbsolutePath))
      } {
        def outcome(fs: RawLocalFileSystem) =
          Try(seen(fs.getFileLinkStatus(path))).toEither.left.map(_.getClass)
        assert(outcome(nio) == outcome(stock), path)
      }
      // readlink sees links only in bare paths
      assert(nio.getFileLinkStatus(new Path(new File(dir, "link").getAbsolutePath)).isSymlink)
      assert(!nio.getFileLinkStatus(new Path(new File(dir, "link").toURI)).isSymlink)
      stock.close(); nio.close()
    }
  }
}
