package graft.lake

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** [[LocalFs]]'s clients behave as Hadoop's stock local ones: the same
  * modes under a umask, the same link and missing-path answers, the same
  * FileContext renames with their `.crc` sidecars; and `install` leaves a
  * user's own `fs.file.impl` alone. */
class LocalFsSpec extends SparkSpec {

  private val afsKey = "fs.AbstractFileSystem.file.impl"

  private def conf(umask: String): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** (stock, fork-free) FileSystem clients over `conf`. */
  private def fileSystems(c: Configuration): (FileSystem, FileSystem) = {
    def init(fs: FileSystem) = { fs.initialize(URI.create("file:///"), c); fs }
    (init(new LocalFileSystem()), init(new ForkFreeLocalFileSystem))
  }

  /** (stock, fork-free) FileContexts over `conf`. */
  private def fileContexts(c: Configuration): (FileContext, FileContext) = {
    val ours = new Configuration(c)
    ours.set(afsKey, classOf[ForkFreeLocalFs].getName)
    (FileContext.getLocalFSFileContext(c),
      FileContext.getLocalFSFileContext(ours))
  }

  private def mode(p: JPath): Any = Files.getAttribute(p, "unix:mode")

  private def hp(p: JPath) = new Path(p.toUri)

  Seq("022", "077").foreach { umask =>
    test(s"created files and dirs get the stock modes under umask $umask") {
      val c = conf(umask)
      val (stockFs, oursFs) = fileSystems(c)
      val (stockFc, oursFc) = fileContexts(c)
      val root = tmpDir("localfs-mode")
      def layout(side: String, fs: FileSystem, fc: FileContext): JPath = {
        val d = root.resolve(side)
        fs.mkdirs(hp(d.resolve("a/b")))
        val out = fs.create(hp(d.resolve("a/b/f.bin")))
        out.write(1); out.close()
        val fco = fc.create(hp(d.resolve("c/g.bin")),
          java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        fco.write(2); fco.close()
        d
      }
      val s = layout("stock", stockFs, stockFc)
      val o = layout("ours", oursFs, oursFc)
      val paths = Seq("a", "a/b", "a/b/f.bin", "a/b/.f.bin.crc", "c",
        "c/g.bin", "c/.g.bin.crc")
      paths.foreach(rel => assert(mode(o.resolve(rel)) == mode(s.resolve(rel)),
        s"$rel under umask $umask"))
      // the sticky bit takes the stock path
      Seq(stockFs -> s, oursFs -> o).foreach { case (fs, d) =>
        fs.setPermission(hp(d.resolve("a")), new FsPermission("1777"))
      }
      assert(mode(o.resolve("a")) == mode(s.resolve("a")))
    }
  }

  test("link status reports a symlink and its target, and a plain file") {
    val (stockFs, oursFs) = fileSystems(conf("022"))
    val (stockFc, oursFc) = fileContexts(conf("022"))
    val d = tmpDir("localfs-link")
    val target = Files.write(d.resolve("target.txt"), "x".getBytes)
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    def same(a: FileStatus, b: FileStatus): Unit = {
      assert(b.isSymlink == a.isSymlink)
      if (a.isSymlink) assert(b.getSymlink == a.getSymlink)
      assert(b.getLen == a.getLen && b.isDirectory == a.isDirectory &&
        b.getPermission == a.getPermission && b.getOwner == a.getOwner &&
        b.getModificationTime == a.getModificationTime)
    }
    // the checksummed FileSystem reports no links; its raw client does,
    // for a scheme-less path (the stock one reads a `file:` path's link
    // as the relative file "file:/…", which never exists)
    def raw(fs: FileSystem) = fs.asInstanceOf[LocalFileSystem].getRaw
    for (p <- Seq(link, target, d); path <- Seq(hp(p), new Path(p.toString))) {
      same(stockFs.getFileLinkStatus(path), oursFs.getFileLinkStatus(path))
      same(raw(stockFs).getFileLinkStatus(path),
        raw(oursFs).getFileLinkStatus(path))
      same(stockFc.getFileLinkStatus(path), oursFc.getFileLinkStatus(path))
    }
    val plain = new Path(link.toString)
    assert(raw(oursFs).getFileLinkStatus(plain).getSymlink == hp(target))
    assert(oursFc.getFileLinkStatus(plain).getSymlink == hp(target))
  }

  test("a missing path throws FileNotFoundException") {
    val (_, oursFs) = fileSystems(conf("022"))
    val (_, oursFc) = fileContexts(conf("022"))
    val missing = hp(tmpDir("localfs-missing").resolve("nope"))
    intercept[FileNotFoundException](oursFs.getFileLinkStatus(missing))
    intercept[FileNotFoundException](oursFc.getFileLinkStatus(missing))
    intercept[FileNotFoundException](oursFs.getFileStatus(missing))
    intercept[FileNotFoundException](
      oursFs.setPermission(missing, new FsPermission("644")))
  }

  test("FileContext renames move the .crc, with and without OVERWRITE") {
    val (_, fc) = fileContexts(conf("022"))
    val d = tmpDir("localfs-rename")
    def write(name: String, b: Int): Path = {
      val p = hp(d.resolve(name))
      val out = fc.create(p,
        java.util.EnumSet.of(CreateFlag.CREATE))
      out.write(b); out.close()
      p
    }
    def exists(name: String) = Files.exists(d.resolve(name))
    fc.rename(write("a", 1), hp(d.resolve("b")))
    assert(!exists("a") && !exists(".a.crc") && exists("b") && exists(".b.crc"))
    val c = write("c", 2)
    intercept[FileAlreadyExistsException](fc.rename(c, hp(d.resolve("b"))))
    fc.rename(c, hp(d.resolve("b")), Options.Rename.OVERWRITE)
    assert(!exists("c") && !exists(".c.crc") && exists(".b.crc"))
    val in = fc.open(hp(d.resolve("b")))
    try assert(in.read() == 2) finally in.close()
  }

  test("install sets the three keys on a session that set none") {
    val s = spark.newSession()
    LocalFs.install(s)
    assert(s.conf.get("fs.file.impl") == classOf[ForkFreeLocalFileSystem].getName)
    assert(s.conf.get("fs.file.impl.disable.cache") == "true")
    // core-default.xml ships a value for this key: that is not the user's
    assert(s.conf.get(afsKey) == classOf[ForkFreeLocalFs].getName)
    assert(s.sessionState.newHadoopConf().getClass("fs.file.impl", null) ==
      classOf[ForkFreeLocalFileSystem])
  }

  test("install leaves a user-set fs.file.impl alone") {
    val stock = classOf[LocalFileSystem].getName
    val s = spark.newSession()
    s.conf.set("fs.file.impl", stock)
    LocalFs.install(s)
    assert(s.conf.get("fs.file.impl") == stock)
    assert(s.conf.getOption("fs.file.impl.disable.cache").isEmpty)
    // spark.hadoop.* keys reach the context's Hadoop conf
    val viaSparkConf = org.apache.spark.SpecBridge.hadoopConf(
      new org.apache.spark.SparkConf(false)
        .set("spark.hadoop.fs.file.impl", stock)
        .set(s"spark.hadoop.$afsKey", "x.Y"))
    assert(LocalFs.unset(_ => false, viaSparkConf).isEmpty)
    assert(LocalFs.unset(_ => false, conf("022")).map(_._1) ==
      Seq("fs.file.impl", "fs.file.impl.disable.cache", afsKey))
  }
}
