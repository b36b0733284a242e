package graft.lake

import graft.api.LakeSql
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row

/** Every lake DML verb, run a second time with new key literals, reuses
  * the classes its first run compiled: no statement may put its literals
  * into generated code that [[ParamScan]] does not parametrize (each
  * distinct value would compile a class on the driver and another on the
  * executor, and evict stable classes from Spark's codegen cache).
  */
class DmlCodegenSpec extends DmlLake {

  private def compiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `setup`, `first`, `between`, then `second` (the same verb with
    * new literals); `second` must compile no class. Returns its status
    * row. */
  private def secondCompilesNothing(name: String, first: String,
      second: String, setup: Seq[String] = Nil,
      between: Seq[String] = Nil): Row = {
    val log = lake(name)
    def sql(s: String) = LakeSql.execute(spark, log, s).head()
    setup.foreach(sql)
    sql(first)
    between.foreach(sql)
    val before = compiles()
    val r = sql(second)
    assert(compiles() - before == 0,
      s"'$second' compiled a new class after '$first'")
    r
  }

  private def ins(lo: Int, hi: Int) =
    s"INSERT INTO t SELECT * FROM src WHERE id BETWEEN $lo AND $hi"

  test("INSERT with a new key range compiles no class") {
    secondCompilesNothing("cg-insert", ins(200, 259), ins(260, 319))
  }

  test("MERGE INTO with a new key range compiles no class") {
    def merge(lo: Int) = "MERGE INTO t USING (SELECT id, cust, 'M' AS " +
      "status, price + 100.0 AS price FROM src WHERE id BETWEEN " +
      s"$lo AND ${lo + 49}) ON id"
    secondCompilesNothing("cg-merge", merge(150), merge(170))
  }

  test("UPDATE with a new key range compiles no class") {
    def upd(lo: Int) = "UPDATE t SET price = price + 1.5, status = 'U' " +
      s"WHERE id BETWEEN $lo AND ${lo + 19}"
    val r = secondCompilesNothing("cg-update", upd(110), upd(140))
    assert(r.getAs[Long]("rows_updated") == 20L)
  }

  test("copy-on-write DELETE with a new key range compiles no class") {
    def del(lo: Int) =
      s"DELETE /*+ COW */ FROM t WHERE id BETWEEN $lo AND ${lo + 4}"
    val r = secondCompilesNothing("cg-cow", del(5), del(15))
    assert(r.getAs[String]("mode") == "cow" &&
      r.getAs[Long]("rows_deleted") == 5L)
  }

  test("merge-on-read DELETE with a new key range compiles no class") {
    def del(lo: Int) = s"DELETE FROM t WHERE id BETWEEN $lo AND ${lo + 4}"
    val r = secondCompilesNothing("cg-mor", del(25), del(135))
    assert(r.getAs[String]("mode") == "mor" &&
      r.getAs[Long]("rows_deleted") == 5L)
  }

  test("OPTIMIZE over new files compiles no class") {
    // each OPTIMIZE compacts three or more 100-row files
    val r = secondCompilesNothing("cg-optimize", "OPTIMIZE t", "OPTIMIZE t",
      setup = Seq(ins(200, 299)),
      between = Seq(ins(300, 399), ins(400, 499), ins(500, 599)))
    assert(r.getAs[Long]("files_removed") >= 3L)
  }
}
