package graft

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, FsConstants,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.io.{Fixtures, LocalFs}

/** graft.io.LocalFs against stock Hadoop `LocalFileSystem` / `LocalFs`:
  * same mode bits, same `.crc` sidecars, same link statuses, and graft
  * sessions resolve `file:` to it. */
class LocalFsSpec extends GraftSuite {
  import spark.implicits._

  private val stockAfs = "org.apache.hadoop.fs.local.LocalFs"

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** (stock, ours) as `FileSystem` and as `FileContext`, under one conf. */
  private def fileSystems(c: Configuration): (FileSystem, FileSystem) = {
    val stock = new LocalFileSystem()
    stock.initialize(FsConstants.LOCAL_FS_URI, c)
    val ours = new LocalFs.FileSystem()
    ours.initialize(FsConstants.LOCAL_FS_URI, c)
    (stock, ours)
  }

  private def fileContexts(c: Configuration): (FileContext, FileContext) = {
    val stock = new Configuration(c)
    stock.set("fs.AbstractFileSystem.file.impl", stockAfs)
    val ours = new Configuration(c)
    ours.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs.Fs].getName)
    (FileContext.getLocalFSFileContext(stock), FileContext.getLocalFSFileContext(ours))
  }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xFFF

  /** Every path under `root` relative to it, with its mode bits. */
  private def tree(root: String): Map[String, Int] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => base.relativize(p).toString -> mode(p.toString)).toMap
    finally walk.close()
  }

  private def write(out: org.apache.hadoop.fs.FSDataOutputStream, text: String): Unit =
    try out.write(text.getBytes(UTF_8)) finally out.close()

  /** The same operations through one FileSystem and one FileContext
    * under `root`: default-mode and explicit-mode creates and mkdirs, a
    * checkpoint-style overwrite rename, and explicit permission changes. */
  private def exercise(fs: FileSystem, fc: FileContext, root: String): Unit = {
    val r = new Path("file://" + root)
    fs.mkdirs(new Path(r, "fs/a/b"))
    write(fs.create(new Path(r, "fs/a/b/part-0")), "zero")
    write(fs.create(new Path(r, "fs/explicit"), new FsPermission("640"), false, 4096,
      1.toShort, 1L << 25, null), "explicit")
    fs.mkdirs(new Path(r, "fs/dir750"), new FsPermission("750"))
    fc.mkdir(new Path(r, "fc/offsets"), FsPermission.getDirDefault, true)
    write(fc.create(new Path(r, "fc/offsets/.0.tmp"), EnumSet.of(CreateFlag.CREATE)), "batch 0")
    fc.rename(new Path(r, "fc/offsets/.0.tmp"), new Path(r, "fc/offsets/0"), Options.Rename.OVERWRITE)
    write(fc.create(new Path(r, "fc/offsets/.1.tmp"), EnumSet.of(CreateFlag.CREATE)), "batch 1")
    write(fc.create(new Path(r, "fc/offsets/1"), EnumSet.of(CreateFlag.CREATE)), "stale")
    fc.rename(new Path(r, "fc/offsets/.1.tmp"), new Path(r, "fc/offsets/1"), Options.Rename.OVERWRITE)
    Seq("600", "755", "444", "1777").foreach { m =>
      write(fs.create(new Path(r, s"set/$m")), m)
      fs.setPermission(new Path(r, s"set/$m"), new FsPermission(m))
      fc.setPermission(new Path(r, s"set/$m"), new FsPermission(m))
    }
    // chmod keeps a directory's setgid bit under a 4-digit octal mode
    fs.mkdirs(new Path(r, "setgid"))
    Files.setAttribute(Paths.get(root, "setgid"), "unix:mode", Integer.valueOf(0x5ED)) // 02755
    fs.setPermission(new Path(r, "setgid"), new FsPermission("750"))
  }

  test("files and dirs get the stock mode bits and .crc sidecars under the same umask") {
    Seq("022", "077", "002").foreach { umask =>
      val c = conf(umask)
      val (stockFs, oursFs) = fileSystems(c)
      val (stockFc, oursFc) = fileContexts(c)
      val stockRoot = Fixtures.scratch("graft-localfs-stock-")
      val oursRoot = Fixtures.scratch("graft-localfs-ours-")
      exercise(stockFs, stockFc, stockRoot)
      exercise(oursFs, oursFc, oursRoot)
      val (stock, ours) = (tree(stockRoot), tree(oursRoot))
      assert(ours == stock, s"umask $umask")
      val crcs = stock.keySet.filter(_.endsWith(".crc"))
      assert(crcs.contains("fs/a/b/.part-0.crc") && crcs.contains("fc/offsets/.1.crc"))
      assert(!stock.contains("fc/offsets/.0.tmp") && !stock.contains("fc/offsets/..0.tmp.crc"))
      crcs.foreach { f =>
        assert(Files.readAllBytes(Paths.get(oursRoot, f)).toSeq ==
          Files.readAllBytes(Paths.get(stockRoot, f)).toSeq, f)
      }
    }
  }

  test("setPermission failures are the stock failures") {
    val (stock, ours) = fileSystems(conf("022"))
    val missing = new Path(Fixtures.scratch("graft-localfs-missing-"), "nope")
    val perm = new FsPermission("644")
    val e1 = intercept[IOException](stock.setPermission(missing, perm))
    val e2 = intercept[IOException](ours.setPermission(missing, perm))
    assert(e1.getClass == e2.getClass)
  }

  test("getFileLinkStatus: file, dir, missing path and symlink match stock") {
    val c = conf("022")
    val (stockFs, oursFs) = fileSystems(c)
    val (stockFc, oursFc) = fileContexts(c)
    val root = Fixtures.scratch("graft-localfs-links-")
    Files.write(Paths.get(root, "file"), "x".getBytes(UTF_8))
    Files.createDirectory(Paths.get(root, "dir"))
    Files.createSymbolicLink(Paths.get(root, "link"), Paths.get("file"))
    Files.createSymbolicLink(Paths.get(root, "dangling"), Paths.get("gone"))
    // the status, or the failure's class (a dangling link named by a
    // qualified path is a FileNotFoundException in stock Hadoop)
    def view(s: => FileStatus) = scala.util.Try {
      val st = s
      (st.getPath, st.isDirectory, st.isFile, st.getLen, st.isSymlink,
        if (st.isSymlink) st.getSymlink else null, st.getModificationTime,
        st.getPermission, st.getOwner, st.getGroup)
    }.toEither.left.map(_.getClass)
    Seq("file", "dir", "link", "dangling").foreach { name =>
      Seq(new Path(root, name), new Path("file://" + root, name)).foreach { p =>
        assert(view(oursFs.getFileLinkStatus(p)) == view(stockFs.getFileLinkStatus(p)), p)
        assert(view(oursFc.getFileLinkStatus(p)) == view(stockFc.getFileLinkStatus(p)), p)
      }
    }
    val link = oursFs.getFileLinkStatus(new Path(root, "link"))
    assert(link.isSymlink && link.getSymlink == new Path("file://" + root, "file"))
    val missing = new Path(root, "missing")
    intercept[FileNotFoundException](stockFs.getFileLinkStatus(missing))
    intercept[FileNotFoundException](oursFs.getFileLinkStatus(missing))
    intercept[FileNotFoundException](oursFc.getFileLinkStatus(missing))
  }

  test("graft sessions resolve file: to LocalFs for FileSystem and FileContext") {
    val hc = spark.sparkContext.hadoopConfiguration
    // Without the setting, the service entries decide (Hive registers its
    // ProxyLocalFileSystem for `file:` too).
    assert(FileSystem.getFileSystemClass("file", new Configuration()) != classOf[LocalFs.FileSystem])
    assert(FileSystem.getFileSystemClass("file", hc) == classOf[LocalFs.FileSystem])
    // through the FS cache, as Spark resolves it
    assert(FileSystem.getLocal(hc).getClass == classOf[LocalFs.FileSystem])
    assert(new Path(Fixtures.scratch("graft-localfs-wiring-")).getFileSystem(hc).getClass ==
      classOf[LocalFs.FileSystem])
    val fc = FileContext.getFileContext(spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.getClass == classOf[LocalFs.Fs])
  }

  test("a stateful stream's checkpoint has the stock files and mode bits") {
    def run(stock: Boolean): Map[String, Int] = {
      val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache", "fs.AbstractFileSystem.file.impl")
      if (stock) {
        spark.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
        spark.conf.set("fs.file.impl.disable.cache", "true")
        spark.conf.set("fs.AbstractFileSystem.file.impl", stockAfs)
      }
      try {
        val afs = FileContext.getFileContext(spark.sessionState.newHadoopConf()).getDefaultFileSystem
        assert(afs.getClass.getName == (if (stock) stockAfs else classOf[LocalFs.Fs].getName))
        val ckpt = Fixtures.scratch("graft-localfs-ckpt-")
        implicit val sqlCtx = spark.sqlContext
        val mem = MemoryStream[Int]
        val q = mem.toDF().groupBy(col("value") % 3).count()
          .writeStream.format("noop").outputMode("update")
          .option("checkpointLocation", ckpt).start()
        try {
          Seq(1 to 10, 11 to 20).foreach { batch => mem.addData(batch); q.processAllAvailable() }
        } finally q.stop()
        // the metadata file names the query id
        tree(ckpt).map { case (k, v) => k.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>") -> v }
      } finally keys.foreach(spark.conf.unset)
    }
    val stock = run(stock = true)
    val ours = run(stock = false)
    assert(stock.keySet.exists(_.endsWith(".delta.crc")), stock.keySet)
    assert(ours == stock)
  }
}
