package graft.lake

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** A copy-on-write row op that throws must leave the table as it found it:
  * no new version, no `_tmp/<txn>-…` staging dir, and no data file the
  * latest snapshot does not reference. A registered UDF that throws above
  * 50 sits in each op's predicate, SET expression, replaced frame, update
  * set or clause condition, so the op's jobs fail after Spark has created
  * their output dirs — and, where a write finishes first, after it
  * promoted files. */
class StagingLeakSpec extends SparkSpec {
  import spark.implicits._

  spark.udf.register("leak_boom", (x: Long) =>
    if (x > 50) throw new IllegalStateException(s"boom at $x") else x)

  private def freshTable(tag: String): (LakeLog, String) = {
    val log = new LakeLog(tmpDir(s"leak-$tag"))
    val df = (1 to 100).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
    LakeTable.createTable(log, "t", df.schema)
    LakeTable.insert(spark, log, "t", df, numFiles = 2)
    (log, "t")
  }

  private def listed(dir: Path): List[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList finally s.close()
    }

  /** ids 41..60 — half of them trip `leak_boom` where it is applied. */
  private def boomRows = spark.range(41, 61)
    .select(expr("leak_boom(id)").as("id"), lit(0.5).as("v"))
  private def plainRows = spark.range(41, 61)
    .select(col("id"), lit(0.5).as("v"))

  private val ops: Seq[(String, (LakeLog, String) => Any)] = Seq(
    "deleteWhere" -> ((log, t) => LakeTable.deleteWhere(spark, log, t,
      "leak_boom(id) BETWEEN 90 AND 100")),
    "updateWhere" -> ((log, t) => LakeTable.updateWhere(spark, log, t,
      "id BETWEEN 41 AND 60", Seq("v" -> "leak_boom(id) * 2.0"))),
    "replaceWhere" -> ((log, t) => LakeTable.replaceWhere(spark, log, t,
      "id BETWEEN 41 AND 60", boomRows)),
    "upsert" -> ((log, t) => LakeTable.upsert(spark, log, t, boomRows,
      "id")),
    "merge" -> ((log, t) => LakeTable.merge(spark, log, t, plainRows, "id",
      Seq(LakeTable.MergeClause("update", Some("leak_boom(src_id) > 0"))))))

  ops.foreach { case (op, run) =>
    test(s"$op whose staged write throws leaves _tmp empty") {
      val (log, t) = freshTable(op)
      val v = log.latestVersion(t)
      intercept[Exception](run(log, t))
      assert(log.latestVersion(t) == v)
      val staging = listed(log.tableDir(t).resolve("_tmp"))
      assert(staging.isEmpty, s"staging left behind: $staging")
      val live = log.snapshot(t).files.map(_.path).toSet
      val stray = listed(log.dataDir(t)).map(_.toString).filterNot(live)
      assert(stray.isEmpty, s"unreferenced data files: $stray")
    }
  }
}
