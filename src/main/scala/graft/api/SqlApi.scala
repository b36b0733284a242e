package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables

/** Real SQL entry point — the reference's `POST /query` endpoint is a mock
  * that pattern-matches `count(*)` and returns canned rows
  * (`pkg/coordinator/rest_api.go:709-734`); its golden test
  * (`tests/integration/golden_query_test.go:120-131`) documents the intended
  * SQL surface. Here the endpoint is spark.sql over registered views: full
  * ANSI SQL, optimized by Catalyst — the un-mocked version.
  */
object SqlApi {

  /** Run SQL against the tables of a scale-factor directory. Only tables
    * the SQL text references are loaded/registered — `spark.read.parquet`
    * costs a file listing + footer read per table, which dominates short
    * queries when all ten tables are registered unconditionally.
    */
  def query(spark: SparkSession, dir: String, sql: String): DataFrame = {
    val referenced = Tables.all.filter(t =>
      s"\\b$t\\b".r.findFirstIn(sql.toLowerCase).isDefined)
    (if (referenced.nonEmpty) referenced else Tables.all).foreach(n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(n))
    spark.sql(sql)
  }

  /** Run SQL against lake tables (each registered at its snapshot version —
    * the SQL sees exactly the files the log makes visible). Views are backed
    * by [[graft.lake.LakeFileIndex]], so WHERE clauses prune files by the
    * log's min/max stats before any I/O. Registration is memoized per
    * session ([[graft.lake.Views.registerAll]]): only tables whose snapshot
    * moved since this session's last statement are rebuilt. */
  def queryLake(spark: SparkSession, log: graft.lake.LakeLog, sql: String,
                versions: Map[String, Long] = Map.empty): DataFrame = {
    // tables (at the pinned versions) THEN logical views in creation
    // order — view SQL referencing earlier views/tables resolves, and a
    // view read composes with time travel on its base tables
    graft.lake.Views.registerAll(spark, log, versions)
    spark.sql(sql)
  }
}
