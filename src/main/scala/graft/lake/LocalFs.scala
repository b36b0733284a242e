package graft.lake

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's raw `file:` client without its process starts. Without
  * libhadoop, the stock client runs `chmod` for every file and directory
  * it creates and `readlink` for every link-status lookup (each FileContext
  * rename makes several): milliseconds apiece, over a hundred per stream
  * micro-batch. Both are answered through java.nio instead; sticky bits,
  * symlinks and non-POSIX stores still take the stock path. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    // a plain copy: the FsCreateModes that create passes prints two modes
    val mode = new FsPermission(permission.toShort)
    if (mode.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(mode.toString))
    catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
      case e: NoSuchFileException =>
        throw new FileNotFoundException(e.getMessage)
    }
  }

  /** What the stock path returns after `readlink` finds no link target. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over the raw client. */
class ForkFreeLocalFileSystem
  extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the key FileContext resolves (Spark's
  * checkpoint file manager and state store): Hadoop's `local.LocalFs`
  * over the raw client. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

/** Hadoop's `local.RawLocalFs` (whose constructors are package-private)
  * over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
    "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

object LocalFs {

  private val FileImpl = "fs.file.impl"
  // FileSystem.get's cache would keep returning the stock instance Spark
  // made when it qualified the warehouse path
  private val CacheOff = "fs.file.impl.disable.cache"

  private val keys = Seq(
    FileImpl -> classOf[ForkFreeLocalFileSystem].getName,
    CacheOff -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** The keys [[install]] sets: those neither the session nor the Hadoop
    * conf sets, where a value that only core-default.xml ships counts as
    * unset. The cache switch goes only with our `fs.file.impl`. */
  private[lake] def unset(sessionSets: String => Boolean,
                          hadoop: Configuration): Seq[(String, String)] = {
    def set(k: String) = sessionSets(k) ||
      Option(hadoop.getPropertySources(k)).exists(_.exists(
        _ != "core-default.xml"))
    val oursImpl = !set(FileImpl)
    keys.filter { case (k, _) =>
      !set(k) && (k != CacheOff || oursImpl)
    }
  }

  /** Route `spark`'s local-filesystem I/O through the fork-free clients,
    * leaving any key the user set alone. Session-scoped: a streaming query
    * clones its session at start, so call this before `start()`. */
  def install(spark: SparkSession): Unit =
    unset(spark.conf.getOption(_).isDefined,
      spark.sparkContext.hadoopConfiguration)
      .foreach { case (k, v) => spark.conf.set(k, v) }
}
