package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; Spark reuses
  * the active session across suites, so startup cost is paid once).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", SparkSpec.warehouse.toString)
    .getOrCreate()

  private val tmpDirs = scala.collection.mutable.ArrayBuffer[Path]()

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit =
    try tmpDirs.foreach(SparkSpec.deleteQuietly)
    finally super.afterAll()

  /** A fresh directory, deleted with everything in it after the suite. */
  def tmpDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    tmpDirs.synchronized(tmpDirs += p)
    p
  }
}

object SparkSpec {
  /** One warehouse dir per JVM (`getOrCreate` ignores a later suite's
    * value), removed when the JVM exits. */
  lazy val warehouse: Path = {
    val p = Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(deleteQuietly(p))
    p
  }

  /** Best effort: a file a still-stopping stream writes meanwhile may
    * keep its directory, but never fails the suite. */
  def deleteQuietly(root: Path): Unit =
    try graft.lake.LakeTable.deleteRecursively(root)
    catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException =>
    }
}
