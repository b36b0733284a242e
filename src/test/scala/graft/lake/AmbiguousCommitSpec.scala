package graft.lake

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ambiguous commit: the log entry becomes durable, then the writer
  * throws before it learns that it won. The op must surface the error
  * but keep every file the committed version references — the entry is
  * the truth, so reads serve the op's result, a replay of its txn id is
  * a duplicate, and staging is gone.
  *
  * Injection: [[LakeLog.failAfterCreating]] armed with the entry file of
  * the version the op will commit. */
class AmbiguousCommitSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Range, v: Long => Double = _ * 1.0)
      : Seq[(Long, Double)] = ids.map(i => (i.toLong, v(i.toLong)))

  private def frame(rs: Seq[(Long, Double)]): DataFrame = rs.toDF("id", "v")

  private def children(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList finally s.close()
    }

  private val base = rows(1 to 100)

  /** (name, op, which commit of the op fails (1-based), model after it). */
  private val cases: Seq[(String, (LakeLog, String) => Any, Int,
      Seq[(Long, Double)])] = Seq(
    ("insert", (log, t) => LakeTable.insert(spark, log, t,
      frame(rows(101 to 110)), txnId = "tx-insert"),
      1, rows(1 to 110)),
    ("insertAll", (log, t) => LakeTable.insertAll(spark, log, t,
      Seq(frame(rows(101 to 105)) -> "tx-s1",
        frame(rows(106 to 110)) -> "tx-s2",
        frame(rows(111 to 115)) -> "tx-s3")),
      2, rows(1 to 110)),
    ("deleteWhere", (log, t) => LakeTable.deleteWhere(spark, log, t,
      "id BETWEEN 41 AND 60", txnId = "tx-delete"),
      1, base.filterNot(r => r._1 >= 41 && r._1 <= 60)),
    ("deleteWhereMor", (log, t) => LakeTable.deleteWhereMor(spark, log, t,
      "id BETWEEN 41 AND 60", txnId = "tx-mor"),
      1, base.filterNot(r => r._1 >= 41 && r._1 <= 60)),
    ("upsert", (log, t) => LakeTable.upsert(spark, log, t,
      frame(rows(91 to 110, _ => 0.5)), "id", txnId = "tx-upsert"),
      1, rows(1 to 90) ++ rows(91 to 110, _ => 0.5)),
    ("compact", (log, t) => LakeTable.compact(spark, log, t, force = true),
      1, base))

  cases.foreach { case (name, op, nth, model) =>
    test(s"$name: a throw after its entry became durable keeps the commit") {
      val log = new LakeLog(tmpDir(s"ambiguous-$name"))
      val t = "t"
      LakeTable.createTable(log, t, frame(base).schema)
      LakeTable.insert(spark, log, t, frame(base), numFiles = 4)
      val failing = log.latestVersion(t) + nth
      LakeLog.failAfterCreating.set(
        log.logDir(t).resolve(f"$failing%020d.json"))
      try {
        val e = intercept[java.io.IOException](op(log, t))
        assert(e.getMessage.startsWith("failpoint"), e)
      } finally LakeLog.failAfterCreating.set(null)

      assert(log.latestVersion(t) == failing)
      assert(LakeTable.read(spark, log, t).as[(Long, Double)].collect()
        .sorted.toSeq == model.sorted)
      val referenced = log.snapshot(t).files
        .flatMap(a => a.path +: a.dv.map(_.path).toSeq)
      referenced.foreach(p => assert(Files.exists(Paths.get(p)), p))
      val txnId = log.readEntry(t, failing).txn_id
      assert(log.commit(t, failing, txnId, Nil).duplicate)
      assert(children(log.tableDir(t).resolve("_tmp")).isEmpty,
        "staging left behind in _tmp/")
    }
  }
}
