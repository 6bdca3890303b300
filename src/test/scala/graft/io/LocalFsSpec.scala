package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** [[ForkFreeLocalFs]] against Hadoop's stock `LocalFileSystem` and
  * `LocalFs`: the same operations on two sibling temp trees leave the
  * same files, `.crc` siblings and permission bits, and the status calls
  * return equal fields. Then the wiring: a graft session resolves
  * `file://` to these classes for `FileSystem`, `FileContext` and
  * Spark's checkpoint manager. */
class LocalFsSpec extends AnyFunSuite {

  private val root = new URI("file:///")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** Stock and fork-free `FileSystem`s over one conf. */
  private def fileSystems(c: Configuration): Seq[(String, FileSystem)] = {
    val stock = new LocalFileSystem()
    val forkFree = new ForkFreeLocalFileSystem()
    stock.initialize(root, c)
    forkFree.initialize(root, c)
    Seq("stock" -> stock, "fork-free" -> forkFree)
  }

  /** Stock (`LocalFs`, the core-default) and fork-free `FileContext`s. */
  private def fileContexts(c: Configuration): Seq[(String, FileContext)] =
    Seq("stock" -> FileContext.getFileContext(root, c),
      "fork-free" -> FileContext.getFileContext(new ForkFreeLocalFs(root, c), c))

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  /** Every entry under `dir` (relative path → permission and set-id bits). */
  private def tree(dir: JPath): Map[String, Int] =
    Files.walk(dir).iterator.asScala.filter(_ != dir)
      .map(p => dir.relativize(p).toString -> mode(p)).toMap

  private def tmp(tag: String): JPath = Files.createTempDirectory(s"graft_localfs_$tag")

  for (umask <- Seq("022", "077")) {
    test(s"FileSystem and FileContext writes leave the same files, .crc siblings and bits (umask $umask)") {
      val c = conf(umask)
      val trees = fileSystems(c).zip(fileContexts(c)).map { case ((tag, fs), (_, fc)) =>
        val dir = tmp(tag)
        val base = new Path(dir.toUri)
        fs.mkdirs(new Path(base, "fs/a/b"))
        fs.mkdirs(new Path(base, "fs/c"), new FsPermission("750"))
        val out = fs.create(new Path(base, "fs/a/part-0.txt"))
        out.write("hello".getBytes("UTF-8")); out.close()
        fs.create(new Path(base, "fs/c/p.txt"), new FsPermission("640"), true, 4096,
          1.toShort, 1L << 20, null).close()
        fc.mkdir(new Path(base, "fc/x/y"), FsPermission.getDirDefault, true)
        val o2 = fc.create(new Path(base, "fc/x/0"), EnumSet.of(CreateFlag.CREATE))
        o2.write(1); o2.close()
        fc.rename(new Path(base, "fc/x/0"), new Path(base, "fc/x/y/1"), Options.Rename.NONE)
        tag -> tree(dir)
      }
      val Seq((_, stock), (_, forkFree)) = trees
      assert(stock.keySet.exists(_.endsWith(".part-0.txt.crc")) &&
        stock.keySet.exists(_.endsWith(".1.crc")), s"stock wrote no .crc files: $stock")
      assert(forkFree == stock)
    }
  }

  test("FileContext.rename with Rename.NONE still fails on an existing destination") {
    val c = conf("022")
    val outcomes = fileContexts(c).map { case (tag, fc) =>
      val base = new Path(tmp(tag).toUri)
      val (src, dst) = (new Path(base, "src"), new Path(base, "dst"))
      Seq(src, dst).foreach(p => fc.create(p, EnumSet.of(CreateFlag.CREATE)).close())
      val failure = Try(fc.rename(src, dst, Options.Rename.NONE)).failed.toOption
        .map(_.getClass.getName)
      (failure, fc.util.exists(src), fc.util.exists(new Path(base, ".src.crc")))
    }
    assert(outcomes.head._1.contains("org.apache.hadoop.fs.FileAlreadyExistsException"),
      s"stock rename: $outcomes")
    assert(outcomes.distinct.size == 1, s"stock vs fork-free: $outcomes")
  }

  private def fields(s: FileStatus): Seq[Any] = Seq(
    s.getPath, s.getLen, s.isDirectory, s.isSymlink,
    if (s.isSymlink) s.getSymlink else null,
    s.getReplication, s.getBlockSize, s.getModificationTime, s.getAccessTime,
    s.getPermission, s.getOwner, s.getGroup)

  private def statusOf(call: => FileStatus): Either[String, Seq[Any]] =
    Try(fields(call)).toEither.left.map(_.getClass.getName)

  test("getFileLinkStatus and getFileStatus match Hadoop's on files, dirs, symlinks, dangling links and missing paths") {
    val dir = tmp("status")
    Files.write(dir.resolve("file"), "x".getBytes("UTF-8"))
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val c = conf("022")
    val Seq((_, stockFs), (_, forkFreeFs)) = fileSystems(c)
    val Seq((_, stockFc), (_, forkFreeFc)) = fileContexts(c)
    for {
      name <- Seq("file", "dir", "link", "dangling", "missing")
      // an unqualified path and a file: URI, which Hadoop treats apart
      path <- Seq(new Path(dir.resolve(name).toString), new Path(dir.resolve(name).toUri))
    } {
      val calls = Seq[(String, (FileSystem, FileContext) => FileStatus)](
        "FileSystem.getFileLinkStatus" -> ((fs, _) => fs.getFileLinkStatus(path)),
        "FileSystem.getFileStatus" -> ((fs, _) => fs.getFileStatus(path)),
        "FileContext.getFileLinkStatus" -> ((_, fc) => fc.getFileLinkStatus(path)),
        "FileContext.getFileStatus" -> ((_, fc) => fc.getFileStatus(path)))
      for ((call, f) <- calls) {
        val stock = statusOf(f(stockFs, stockFc))
        val forkFree = statusOf(f(forkFreeFs, forkFreeFc))
        assert(forkFree == stock, s"$call($path)")
        if (name == "missing")
          assert(stock == Left(classOf[FileNotFoundException].getName), s"$call($path)")
      }
    }
    // the cases above must include a real symlink status, or the
    // symlink branch was never compared
    assert(stockFs.getFileLinkStatus(new Path(dir.resolve("dangling").toString)).isSymlink)
  }

  test("a sticky-bit setPermission still applies, and a set-id directory keeps its bit") {
    val c = conf("022")
    val results = fileSystems(c).map { case (tag, fs) =>
      val dir = tmp(tag)
      val sticky = dir.resolve("sticky")
      fs.mkdirs(new Path(sticky.toUri))
      fs.setPermission(new Path(sticky.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
      // a setgid parent passes its bit to new subdirectories; `chmod` with
      // a numeric mode keeps a directory's set-id bits
      val setgid = dir.resolve("setgid")
      Files.createDirectory(setgid)
      Files.setAttribute(setgid, "unix:mode", Integer.parseInt("2775", 8))
      fs.mkdirs(new Path(setgid.resolve("child").toUri))
      fs.setPermission(new Path(setgid.toUri), new FsPermission("755"))
      tag -> tree(dir)
    }
    val Seq((_, stock), (_, forkFree)) = results
    assert(stock("sticky") == Integer.parseInt("1777", 8), f"stock sticky ${stock("sticky")}%o")
    assert(stock("setgid") == Integer.parseInt("2755", 8), f"stock setgid ${stock("setgid")}%o")
    assert(forkFree == stock)
  }

  test("a graft session resolves file:// to the fork-free classes for FileSystem, FileContext and checkpoints") {
    val spark: SparkSession = GraftSession.local(cores = 2)
    GraftSession.baseConf.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
    val hconf = spark.sessionState.newHadoopConf()
    // newInstance, not the JVM-wide FileSystem.get cache, which a session
    // built without GraftSession may have filled first
    val fs = FileSystem.newInstance(root, hconf)
    try {
      assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[ForkFreeRawLocalFileSystem])
    } finally fs.close()
    assert(FileContext.getFileContext(root, hconf).getDefaultFileSystem.getClass ==
      classOf[ForkFreeLocalFs])

    val ckpt = new Path(tmp("ckpt").toUri)
    val manager = CheckpointFileManager.create(ckpt, hconf)
    assert(manager.getClass == classOf[FileContextBasedCheckpointFileManager])
    val fc = Iterator.iterate[Class[_]](manager.getClass)(_.getSuperclass)
      .takeWhile(_ != null).flatMap(_.getDeclaredFields)
      .find(_.getType == classOf[FileContext]).map { f =>
        f.setAccessible(true); f.get(manager).asInstanceOf[FileContext]
      }
    assert(fc.map(_.getDefaultFileSystem.getClass).contains(classOf[ForkFreeLocalFs]),
      s"checkpoint manager's FileContext: $fc")
    val entry = new Path(ckpt, "offsets/0")
    manager.mkdirs(entry.getParent)
    val out = manager.createAtomic(entry, overwriteIfPossible = false)
    out.write("v1".getBytes("UTF-8")); out.close()
    val written = Paths.get(entry.toUri).getParent
    assert(Files.list(written).iterator.asScala.map(_.getFileName.toString).toSet ==
      Set("0", ".0.crc"))
    // the deployment template leaves file:// to the cluster's Hadoop
    assert(Seq("spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl")
      .forall(k => !GraftSession.clusterConfTemplate.contains(k)))
  }
}
