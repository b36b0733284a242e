package graft.lake

import scala.jdk.CollectionConverters._

import graft.api.LakeSql
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.SpecBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.types._

/** Lake writes and stream checkpoints start no process: without libhadoop
  * Hadoop's stock local client runs `chmod` per created file and directory
  * and `readlink` per link-status lookup, milliseconds apiece ([[LocalFs]]).
  * Also pins the Spark jobs of a merge-on-read DELETE. */
class ProcessFreeWriteSpec extends DmlLake {

  /** The commands of the processes `body` starts, by program name. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = tmpDir("jfr").resolve("ops.jfr")
    rec.dump(dump)
    rec.close()
    RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
  }

  private val filesystemCommands = Set("chmod", "readlink", "ls", "stat")

  test("lake DML and a stream micro-batch start no filesystem process") {
    val log = lake("nofork")
    LakeTable.createTable(log, "totals", StructType(Seq(
      StructField("cust", LongType), StructField("total", DoubleType))))
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    def sql(s: String) = LakeSql.execute(spark, log, s).collect()
    val started = processStarts {
      sql("INSERT INTO t SELECT * FROM src WHERE id BETWEEN 200 AND 299")
      sql("MERGE INTO t USING (SELECT id, cust, 'M' AS status, " +
        "price + 100.0 AS price FROM src WHERE id BETWEEN 150 AND 349) ON id")
      sql("UPDATE t SET price = price + 1.5 WHERE id BETWEEN 110 AND 129")
      sql("DELETE /*+ COW */ FROM t WHERE id BETWEEN 5 AND 9")
      sql("DELETE FROM t WHERE id BETWEEN 25 AND 29")
      sql("OPTIMIZE t")
      val q = graft.streaming.Streams.sinkAggToLake(
        input.toDF().toDF("cust", "price").groupBy("cust")
          .agg(sum("price").as("total")),
        log, "totals", "cust", tmpDir("nofork_ckpt").toString)
      try {
        input.addData((1L, 1.0), (1L, 2.0), (2L, 5.0))
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(LakeTable.read(spark, log, "totals").count() == 2)
    val forks = started.filter(c => filesystemCommands(
      c.trim.split("\\s+").head.split('/').last))
    assert(forks.size == 0, "filesystem process starts, e.g. " +
      forks.take(3).mkString("; "))
  }

  test("merge-on-read DELETE over files without a DV runs four jobs") {
    val log = lake("mor-jobs")
    val sc = spark.sparkContext
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    }
    SpecBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = LakeSql.execute(spark, log,
        "DELETE FROM t WHERE id BETWEEN 25 AND 29").head()
      SpecBridge.drain(sc)
      assert(r.getAs[String]("mode") == "mor" &&
        r.getAs[Long]("rows_deleted") == 5L)
    } finally sc.removeSparkListener(listener)
    assert(jobs == 4, s"$jobs jobs")
  }
}
