package graft.lake

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** A staged write that throws must take its `_tmp/<txn>-…` staging dir with
  * it: a registered UDF in the op's predicate or update set fails the write
  * job after Spark has created the job's output dir. */
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

  private def assertTmpEmpty(log: LakeLog, t: String): Unit = {
    val tmp = log.tableDir(t).resolve("_tmp")
    val left =
      if (!Files.exists(tmp)) Nil
      else {
        val s = Files.list(tmp)
        try s.iterator().asScala.toList finally s.close()
      }
    assert(left.isEmpty, s"staging left behind: $left")
  }

  test("deleteWhere whose staged write throws leaves _tmp empty") {
    val (log, t) = freshTable("delete")
    val v = log.latestVersion(t)
    intercept[Exception](LakeTable.deleteWhere(spark, log, t,
      "leak_boom(id) BETWEEN 90 AND 100"))
    assert(log.latestVersion(t) == v)
    assertTmpEmpty(log, t)
  }

  test("upsert whose staged write throws leaves _tmp empty") {
    val (log, t) = freshTable("upsert")
    val v = log.latestVersion(t)
    val updates = spark.range(41, 61)
      .select(expr("leak_boom(id)").as("id"), lit(0.5).as("v"))
    intercept[Exception](LakeTable.upsert(spark, log, t, updates, "id"))
    assert(log.latestVersion(t) == v)
    assertTmpEmpty(log, t)
  }
}
