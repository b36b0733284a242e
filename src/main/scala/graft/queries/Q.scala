package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate query, declared once: its Spark `build` over a scale-factor
  * dir and the DuckDB `oracleSql` it is hash-checked against, side by
  * side, so both alias, round and order every column identically (the
  * correctness gate hashes rows after sorting columns by name).
  *
  * A query that bundles a ONE-TIME persisted-index build with the
  * recurring probe declares `phases` instead (see [[Q.split]]); its
  * `build` is derived as `build(); probe()`, so the correctness gate
  * replays the whole lifecycle while Bench times the two apart.
  */
final case class Q(name: String, build: Q.Build, oracleSql: String,
                   phases: Option[Q.Phases] = None)

object Q {
  type Build = (SparkSession, String) => DataFrame
  type Phases = (SparkSession, String) => (() => Unit, () => DataFrame)

  /** A split query: `phases` returns fresh (build, probe) thunks per
    * call, and the bundled `build` runs one after the other. */
  def split(name: String, oracleSql: String, phases: Phases): Q =
    Q(name, (s, d) => {
      val (build, probe) = phases(s, d)
      build(); probe()
    }, oracleSql, Some(phases))

  /** Index queries by name, refusing a name declared more than once — a
    * repeated key would otherwise keep only the last declaration and drop
    * the other from Verify and the gate without an error. */
  def byName(qs: Seq[Q]): Map[String, Q] = {
    val dups = qs.groupBy(_.name).collect {
      case (n, same) if same.size > 1 => n
    }.toSeq.sorted
    require(dups.isEmpty,
      s"query names declared more than once: ${dups.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
