package graft.lake

import graft.SparkSpec
import graft.api.{LakeSql, SqlApi}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** [[Views.registerAll]] installs each table's temp view once per snapshot
  * and session. Each test pins one rule that keeps the memo from serving
  * a stale relation. */
class ViewRegistrationSpec extends SparkSpec {
  import spark.implicits._

  private def lake(name: String, ids: Seq[Long] = 1L to 10L): LakeLog = {
    val log = new LakeLog(tmpDir(name))
    log.createTable("t", TableSchema(Seq(Field("id", "int64"))))
    LakeTable.insert(spark, log, "t", ids.toDF("id"))
    log
  }

  private def sum(log: LakeLog, sql: String = "SELECT sum(id) FROM t")
      : Long = LakeSql.execute(spark, log, sql).as[Long].head()

  private def notFound(log: LakeLog, sql: String): Unit = {
    val e = intercept[Exception](LakeSql.execute(spark, log, sql).collect())
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e.getMessage)
  }

  test("a commit between two SELECTs is visible to the second") {
    val log = lake("commit")
    LakeSql.execute(spark, log, "CREATE VIEW v AS SELECT id FROM t")
    assert(sum(log) == 55L)
    assert(sum(log, "SELECT sum(id) FROM v") == 55L)
    LakeTable.insert(spark, log, "t", Seq(100L).toDF("id"))
    assert(sum(log) == 155L)
    // the view's stored plan captured the old relation: re-run too
    assert(sum(log, "SELECT sum(id) FROM v") == 155L)
  }

  test("a dropped and re-created table is read anew at an equal version") {
    val log = lake("recreate")
    assert(sum(log) == 55L)
    val v = log.latestVersion("t")
    log.dropTable("t")
    log.createTable("t", TableSchema(Seq(Field("id", "int64"))))
    LakeTable.insert(spark, log, "t", Seq(7L).toDF("id"))
    assert(log.latestVersion("t") == v)
    assert(sum(log) == 7L)
  }

  test("DROP TABLE unregisters the session's temp view") {
    val log = lake("droptable")
    log.createTable("e", TableSchema(Seq(Field("id", "int64"))))
    assert(sum(log) == 55L)
    assert(LakeSql.execute(spark, log, "SELECT count(*) FROM e")
      .as[Long].head() == 0L)
    log.dropTable("t")
    log.dropTable("e")
    // the next statement registers the lake again: t and e are gone
    notFound(log, "SELECT sum(id) FROM t")
    notFound(log, "SELECT count(*) FROM e")
  }

  test("two lake roots with the same table name each read their own") {
    val a = lake("rootA")
    val b = lake("rootB", Seq(1000L))
    assert(sum(a) == 55L)
    assert(sum(b) == 1000L)
    assert(sum(a) == 55L)
    assert(sum(b) == 1000L)
    // two lakes created in the same millisecond share a version's whole
    // commit identity (version 0, txn "create-t", timestamp): only the
    // root tells them apart. Simulated by stamping one create entry's
    // timestamp into the other.
    val c = new LakeLog(tmpDir("rootC"))
    c.createTable("t", TableSchema(Seq(Field("id", "int64"))))
    val d0 = new LakeLog(tmpDir("rootD"))
    d0.createTable("t", TableSchema(Seq(Field("name", "string"))))
    val entry = d0.root.resolve("tables/t/_log/00000000000000000000.json")
    java.nio.file.Files.writeString(entry,
      java.nio.file.Files.readString(entry).replaceAll(
        "\"timestamp_ms\"\\s*:\\s*\\d+",
        s""""timestamp_ms":${c.readEntry("t", 0).timestamp_ms}"""))
    val d = new LakeLog(d0.root)
    def cols(log: LakeLog) =
      LakeSql.execute(spark, log, "SELECT * FROM t").columns.toSeq
    assert(cols(c) == Seq("id"))
    assert(cols(d) == Seq("name"))
  }

  test("a user's own temp view under a table name is replaced") {
    val log = lake("usertemp")
    assert(sum(log) == 55L)
    Seq(-1L).toDF("id").createOrReplaceTempView("t")
    assert(sum(log) == 55L)
    spark.catalog.dropTempView("t")
    assert(sum(log) == 55L)
  }

  test("VERSION AS OF alternating with latest reads the right version") {
    val log = lake("timetravel")
    val v1 = log.latestVersion("t")
    LakeTable.insert(spark, log, "t", Seq(100L).toDF("id"))
    val asOf = s"SELECT sum(id) FROM t VERSION AS OF $v1"
    (1 to 2).foreach { _ =>
      assert(sum(log, asOf) == 55L)
      assert(sum(log) == 155L)
    }
    assert(SqlApi.queryLake(spark, log, "SELECT sum(id) FROM t",
      Map("t" -> v1)).as[Long].head() == 55L)
    assert(sum(log) == 155L)
  }

  test("CREATE OR REPLACE VIEW between two SELECTs serves the new one") {
    val log = lake("replaceview")
    LakeSql.execute(spark, log, "CREATE VIEW v AS SELECT id FROM t WHERE id > 5")
    assert(sum(log, "SELECT sum(id) FROM v") == 40L)
    LakeSql.execute(spark, log,
      "CREATE OR REPLACE VIEW v AS SELECT id FROM t WHERE id <= 2")
    assert(sum(log, "SELECT sum(id) FROM v") == 3L)
  }

  test("a SELECT over unchanged tables runs exactly one query execution") {
    val log = lake("executions")
    log.createTable("u", TableSchema(Seq(Field("id", "int64"))))
    log.createTable("w", TableSchema(Seq(Field("id", "int64"))))
    LakeTable.insert(spark, log, "u", Seq(1L).toDF("id"))
    LakeSql.execute(spark, log, "CREATE VIEW big AS SELECT id FROM t WHERE id > 5")
    val q = "SELECT sum(id) FROM big"
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        executions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit =
        executions.incrementAndGet()
    }
    def counted(body: => Long): (Long, Int) = {
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      executions.set(0)
      val r = body
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      (r, executions.get())
    }
    spark.listenerManager.register(listener)
    try {
      assert(sum(log, q) == 40L)
      assert(counted(sum(log, q)) == (40L, 1))
      // a commit re-registers its table and the view: more than one
      LakeTable.insert(spark, log, "t", Seq(100L).toDF("id"))
      val (after, n) = counted(sum(log, q))
      assert(after == 140L)
      assert(n > 1, s"re-registration ran $n executions")
      assert(counted(sum(log, q)) == (140L, 1))
    } finally spark.listenerManager.unregister(listener)
  }
}
