package graft

import graft.queries.Q

/** Consistency pins around SparkEntry's query/oracle/benchPhases maps.
  * Each query is declared once, as a [[Q]] holding its build beside its
  * oracle SQL, and a split query's bundled build is DERIVED from its
  * phases (`build(); probe()`), so face drift is impossible by
  * construction — what remains worth pinning is that the assembly drops
  * no declaration, and that every split entry actually runs standalone
  * and returns rows.
  */
class BenchPhasesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("every oracle entry names a real query (no orphan oracles)") {
    // an oracleSql key without a queries twin would silently never be
    // checked by the gate (Verify only dumps queries)
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles with no query: $orphans")
  }

  test("assembly refuses a repeated name and keeps every declaration") {
    // a repeated key in a Map literal silently keeps the last entry —
    // the query it shadowed would drop out of Verify and the gate
    val q = Q("q_twice", (s, _) => s.emptyDataFrame, "SELECT 1")
    val err = intercept[IllegalArgumentException](
      Q.byName(Seq(q, q.copy(oracleSql = "SELECT 2"))))
    assert(err.getMessage.contains("q_twice"), err.getMessage)
    assert(SparkEntry.queries.size == 275)
    assert(SparkEntry.oracleSql.size == 275)
    assert(SparkEntry.benchPhases.size == 14)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("every benchPhases entry has a query twin and probes non-empty") {
    val phases = SparkEntry.benchPhases
    assert(phases.keySet.subsetOf(SparkEntry.queries.keySet))
    phases.foreach { case (name, mk) =>
      val (build, probe) = mk(spark, sfDir)
      build()
      assert(probe().count() > 0, s"$name: probe returned no rows")
    }
  }
}
