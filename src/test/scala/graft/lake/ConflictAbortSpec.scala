package graft.lake

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

/** JVM-global trip wire for deterministic conflict injection. Tasks of a
  * `local[*]` session run inside the JVM that owns the session, so a UDF
  * (or optimizer rule) reaches the test's state through this object — a
  * [[LakeLog]] is not serializable and cannot ride in the closure. The
  * armed action runs exactly once, on the first trip. */
object ConflictTrip {
  @volatile private var action: () => Unit = () => ()
  private val spent = new AtomicBoolean(true)

  def arm(a: () => Unit): Unit = { action = a; spent.set(false) }
  def disarm(): Unit = spent.set(true)
  def trip(): Unit = if (spent.compareAndSet(false, true)) action()
}

/** Fires the trip wire while the optimizer plans a query. */
object ConflictTripRule extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan = { ConflictTrip.trip(); plan }
}

/** Every data mutation guarded by "my input files are unchanged" must, when
  * a concurrent commit removes one of its inputs after it read them,
  * abort without a trace: it raises [[CommitConflictException]] (compaction
  * skips the group instead), the data dir holds no file or DV sidecar that
  * no version references, and `_tmp` is empty.
  *
  * Injection is deterministic: the op's own Spark work calls the trip
  * wire, whose armed action commits a `remove` of one candidate file
  * through the log — after the op took its snapshot and before it
  * commits. */
class ConflictAbortSpec extends SparkSpec {
  import spark.implicits._

  spark.udf.register("conflict_trip",
    (x: Long) => { ConflictTrip.trip(); x })

  /** Four single-file inserts: ids 1-25, 26-50, 51-75, 76-100 at
    * versions 1-4. The victim is the 51-75 file, a candidate of every
    * op below. */
  private def freshTable(tag: String): (LakeLog, String, String) = {
    val log = new LakeLog(tmpDir(s"conflict-$tag"))
    val schema = Seq((0L, 0.0)).toDF("id", "v").schema
    LakeTable.createTable(log, "t", schema)
    Seq(1 -> 25, 26 -> 50, 51 -> 75, 76 -> 100).foreach { case (lo, hi) =>
      LakeTable.insert(spark, log, "t",
        (lo to hi).map(i => (i.toLong, i * 1.0)).toDF("id", "v"))
    }
    (log, "t", log.readEntry("t", 3).adds.head.path)
  }

  /** Ids 51-60 whose evaluation trips the wire. */
  private def tripping: DataFrame =
    spark.range(51, 61).select(expr("conflict_trip(id)").as("id"),
      lit(0.5).as("v"))

  private def armRemove(log: LakeLog, t: String, victim: String): Unit =
    ConflictTrip.arm(() => log.commit(t, log.latestVersion(t),
      "concurrent-remove", adds = Nil, removes = Seq(victim)))

  private def children(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList finally s.close()
    }

  /** Data-dir files (bloom sidecars by their data file) that no version
    * of the log adds, as a data file or as a DV sidecar. */
  private def orphans(log: LakeLog, t: String): Seq[String] = {
    val referenced = log.versions(t).flatMap(v => log.readEntry(t, v).adds
      .flatMap(a => a.path +: a.dv.map(_.path).toSeq)).toSet
    children(log.dataDir(t)).map(_.toString)
      .filterNot(p => referenced.contains(p.stripSuffix(".bloom")))
  }

  private def assertNoTrace(log: LakeLog, t: String): Unit = {
    assert(orphans(log, t).isEmpty, "unreferenced files in data/")
    assert(children(log.tableDir(t).resolve("_tmp")).isEmpty,
      "staging left behind in _tmp/")
  }

  private val ops: Seq[(String, (LakeLog, String) => Any)] = Seq(
    "updateWhere" -> ((log, t) => LakeTable.updateWhere(spark, log, t,
      "conflict_trip(id) BETWEEN 51 AND 100", Seq("v" -> "v + 1"))),
    "deleteWhere" -> ((log, t) => LakeTable.deleteWhere(spark, log, t,
      "conflict_trip(id) BETWEEN 51 AND 100")),
    "deleteWhereMor" -> ((log, t) => LakeTable.deleteWhereMor(spark, log, t,
      "conflict_trip(id) BETWEEN 51 AND 100")),
    "upsert" -> ((log, t) => LakeTable.upsert(spark, log, t, tripping, "id")),
    "merge" -> ((log, t) => LakeTable.merge(spark, log, t, tripping, "id",
      Seq(LakeTable.MergeClause("update")))),
    "replaceWhere" -> ((log, t) => LakeTable.replaceWhere(spark, log, t,
      "id > 50", tripping)))

  ops.foreach { case (name, op) =>
    test(s"$name: a concurrently removed input aborts it without a trace") {
      val (log, t, victim) = freshTable(name)
      val before = log.latestVersion(t)
      armRemove(log, t, victim)
      try {
        val e = intercept[CommitConflictException](op(log, t))
        assert(e.getMessage.contains("lost its input files"))
      } finally ConflictTrip.disarm()
      // exactly the injected remove landed
      assert(log.latestVersion(t) == before + 1)
      assertNoTrace(log, t)
    }
  }

  test("compact: a concurrently removed input skips the group without a " +
      "trace") {
    val (log, t, victim) = freshTable("compact")
    val extra = spark.experimental.extraOptimizations
    armRemove(log, t, victim)
    spark.experimental.extraOptimizations = extra :+ ConflictTripRule
    val report =
      try LakeTable.compact(spark, log, t, force = true)
      finally {
        spark.experimental.extraOptimizations = extra
        ConflictTrip.disarm()
      }
    assert(report.groupsPlanned == 1)
    assert(report.groupsCommitted == 0)
    assert(log.readEntry(t, report.finalVersion).txn_id ==
      "concurrent-remove")
    assertNoTrace(log, t)
  }
}
