package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Helpers the query families share: the table loader, the streaming
  * fixtures, and the gate-side recall floor and MV-rewrite plan pin. */
object Fixtures {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Streaming state parallelism: each micro-batch commits one state-store
    * delta PER SHUFFLE PARTITION (fsync'd), so a stateful query's fixed
    * cost is partitions × batches × stores regardless of data volume —
    * size the conf to the stream's key cardinality, not the session
    * default. The streaming gate queries pin 4 for the test corpus —
    * measured: 8 → 4 cuts the stateful queries ~30% at sf0.1 purely in
    * state-store delta commits, and the corpus key cardinalities (≤ 1.5k
    * users, hundreds of agg groups) nowhere near saturate 4 stores (a
    * production deployment sizes this to executor count); restored after.
    */
  private[queries] def withShufflePartitions[T](s: SparkSession, n: Int)(f: => T): T = {
    val old = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", old)
  }

  /** Fixture memo: identical (canonical input plan, n) requests reuse the
    * already-staged chunk dir — harness processes (Verify/Bench) run many
    * stream queries over the same corpus slice, and min-of-N bench
    * repetition would otherwise re-stage identical read-only files every
    * run, billing fixture construction to the streaming operator being
    * measured. Content is deterministic (same plan ⇒ same rows, pinned
    * mtimes), and every consumer only READS the dir.
    */
  private val chunkCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int), java.nio.file.Path]()

  /** Land `ev` (must carry `ts`) as `n` event-time-range chunk files with
    * PINNED strictly-increasing mtimes — the file-stream source orders
    * batches by modification time, and that order is the replay semantics
    * the streaming oracle queries depend on. One write job for all chunks
    * (dynamic partition write), then each part file moves into place.
    */
  private[queries] def writeTimeChunks(ev: DataFrame, n: Int,
                              tmp: java.nio.file.Path): java.nio.file.Path =
    // the canonicalized plan does NOT pin the data (LogicalRelation's
    // string form elides the file paths), so the source files join the
    // key — without them, the same projection over two scale-factor dirs
    // in one JVM would silently reuse the first dir's staged chunks
    chunkCache.computeIfAbsent(
      (ev.inputFiles.sorted.mkString(","),
        ev.queryExecution.logical.canonicalized.toString, n),
      _ => {
        val Array(loMs, hiMs) = ev
          .agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts"))))
          .head().toSeq.map(_.asInstanceOf[Long]).toArray
        val span = math.max(1L, (hiMs - loMs) / n + 1)
        writeChunks(ev,
          floor((unix_millis(col("ts")) - loMs) / span).cast("int"),
          n, Seq("ts", "event_id"), tmp)
      })

  /** The staging step behind every stream fixture: one file per `chunk`
    * value in `0 until n` under `tmp/src`, rows sorted within each file by
    * `sortCols`, mtimes pinned one minute apart in chunk order. A chunk
    * value with no rows leaves no file.
    */
  private[queries] def writeChunks(df: DataFrame, chunk: Column, n: Int,
                                   sortCols: Seq[String],
                                   tmp: java.nio.file.Path): java.nio.file.Path = {
    import scala.jdk.CollectionConverters._
    val srcDir = tmp.resolve("src")
    java.nio.file.Files.createDirectories(srcDir)
    val stage = tmp.resolve("stage")
    df.withColumn("__chunk", chunk)
      // hash-repartition BY the chunk column: still exactly one file per
      // chunk dir (a value's rows land in one partition), but the n chunk
      // files encode in parallel instead of through one task; the sort
      // keeps within-file row order deterministic (the old single-task
      // write was deterministic by construction)
      .repartition(n, col("__chunk"))
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.partitionBy("__chunk").parquet(stage.toString)
    (0 until n).foreach { i =>
      val dir = stage.resolve(s"__chunk=$i")
      if (java.nio.file.Files.exists(dir)) {
        val part = java.nio.file.Files.list(dir).iterator().asScala
          .find(_.toString.endsWith(".parquet")).get
        val dst = srcDir.resolve(f"chunk$i%02d.parquet")
        java.nio.file.Files.move(part, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + i * 60000L))
      }
    }
    srcDir
  }

  /** documents arrives as ONE scan partition (single parquet row group) —
    * fan out before per-row text analysis so the regex work parallelizes;
    * results are order-insensitive (every query orders its output).
    */
  private[queries] def docsSpread(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)

  /** Recall of an approximate pair generator against an exact truth pair
    * set, as integer ppm — the falsifiable number the `_recall` gate
    * queries pin for the production (Spark-internal-hash) dedup faces
    * whose pair sets DuckDB cannot replay. Eager by design: the gate
    * queries `require` the floor at build time so a recall regression
    * fails the correctness gate loudly (an attempted query with no
    * output FAILS) instead of shipping a silently thinner pair set.
    */
  private[queries] def pairRecallPpm(cand: DataFrame, truth: DataFrame,
                            floorPpm: Long, what: String): Long = {
    val tPairs = truth.select("a_id", "b_id")
    val nTruth = tPairs.count()
    val nHit = tPairs
      .join(cand.select("a_id", "b_id"), Seq("a_id", "b_id"), "left_semi")
      .count()
    val ppm = if (nTruth == 0L) 1000000L else nHit * 1000000L / nTruth
    System.err.println(
      s"[recall] $what: $nHit of $nTruth truth pairs = $ppm ppm " +
        s"(floor $floorPpm)")
    require(ppm >= floorPpm,
      s"$what recall $ppm ppm fell below the $floorPpm ppm floor " +
        s"($nHit of $nTruth truth pairs recovered)")
    nTruth
  }

  /** Which lake tables a query's OPTIMIZED plan scans — the in-query
    * plan pin the MV-rewrite queries `require` on (a rewrite that
    * silently stopped firing would still hash-match, so the pin is what
    * makes the plan claim falsifiable). */
  private[queries] def lakeScans(q: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    q.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location match {
          case i: graft.lake.LakeFileIndex => Some(i.tableName)
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
  }
}
