package graft.streaming

import scala.util.Try

import graft.SparkSpec
import graft.lake.{LakeLog, LakeTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException

/** Batch ≡ stream: over seeded random histories (inserts, overlapping
  * merge-on-read deletes, forced compactions, copy-on-write deletes,
  * upserts) on a partitioned table and on one with a renamed column, the
  * lake stream source's micro-batches — one version per batch and
  * uncapped — add up to the batch frame over the same window, as a
  * multiset: `lakeStream` to `changesSince`, and
  * `lakeChangeFeedStream` to `changeFeed` wherever `changeFeed` accepts
  * the window (and a failed query wherever it refuses it).
  */
class LakeStreamPropertySpec extends SparkSpec {
  import spark.implicits._

  /** A seeded history on table `t` with value column `v`: `n` ops drawn
    * from all five, then `n` from the three the change feed can express.
    * Returns the version between the two halves. Deletes keep every
    * multiple of 3, so no merge-on-read delete drops a whole file and
    * upserts touch only such keys. */
  private def history(log: LakeLog, t: String, v: String, seed: Long,
                      n: Int): Long = {
    val rnd = new scala.util.Random(seed)
    var next = 1
    def rows(k: Int): DataFrame = {
      val ids = next until next + k
      next += k
      ids.map(i => (i.toLong, if (i % 2 == 0) "a" else "b", i * 10L))
        .toDF("id", "seg", v)
    }
    def run(ops: Seq[String]): Unit = ops(rnd.nextInt(ops.size)) match {
      case "insert" => LakeTable.insert(spark, log, t, rows(8))
      case "morDelete" => LakeTable.deleteWhereMor(spark, log, t,
        s"id % 3 = ${1 + rnd.nextInt(2)} AND id > ${rnd.nextInt(next)}")
      case "compact" => LakeTable.compact(spark, log, t, force = true)
      case "cowDelete" => LakeTable.deleteWhere(spark, log, t,
        s"id = ${1 + rnd.nextInt(next - 1)}")
      case "upsert" =>
        val key = 3L * (1 + rnd.nextInt((next - 1) / 3))
        LakeTable.upsert(spark, log, t,
          Seq((key, "a", -1L)).toDF("id", "seg", v), "id")
    }
    LakeTable.insert(spark, log, t, rows(16), numFiles = 2)
    (1 to n).foreach(_ =>
      run(Seq("insert", "morDelete", "compact", "cowDelete", "upsert")))
    val mid = log.latestVersion(t)
    (1 to n).foreach(_ => run(Seq("insert", "morDelete", "compact")))
    mid
  }

  private def bag(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private var queries = 0
  /** Every row the stream emits, or the failure that stopped it. */
  private def drain(df: DataFrame): Either[StreamingQueryException,
                                           Seq[String]] = {
    queries += 1
    val name = s"lake_prop_$queries"
    val q = df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmpDir(name).toString).start()
    try { q.processAllAvailable(); Right(bag(spark.table(name))) }
    catch { case e: StreamingQueryException => Left(e) }
    finally q.stop()
  }

  test("lake streams equal the batch change frames over the same window") {
    import org.apache.spark.sql.types._
    val cases = Seq(
      // (table shape, seed): a partitioned table, and one whose value
      // column was renamed before the history
      ("partitioned", 7L), ("renamed", 11L))
    var accepted, refused = 0
    for ((shape, seed) <- cases) {
      val log = new LakeLog(tmpDir(s"lakeprop_$shape"))
      val t = "t"
      val st = StructType(Seq(StructField("id", LongType),
        StructField("seg", StringType), StructField("price", LongType)))
      val v =
        if (shape == "partitioned") {
          LakeTable.createTable(log, t, st, partitionBy = Seq("seg"))
          "price"
        } else {
          LakeTable.createTable(log, t, st)
          log.renameColumn(t, "price", "amount", s"rename-$seed")
          "amount"
        }
      val mid = history(log, t, v, seed, n = 4)
      for (cap <- Seq(Some(1L), None)) {
        val ctx = s"$shape seed=$seed cap=$cap"
        assert(drain(Streams.lakeStream(spark, log, t,
            maxVersionsPerBatch = cap)) ===
          Right(bag(LakeTable.changesSince(spark, log, t, 0L))), ctx)
        for (from <- Seq(0L, mid)) {
          val got = drain(Streams.lakeChangeFeedStream(spark, log, t,
            startingVersion = from, maxVersionsPerBatch = cap))
          Try(bag(LakeTable.changeFeed(spark, log, t, from))).toOption match {
            case Some(feed) =>
              accepted += 1
              assert(got === Right(feed), s"$ctx from=$from")
            case None =>
              refused += 1
              assert(got.left.exists(_.getMessage.contains(
                "not change-feed expressible")), s"$ctx from=$from: $got")
          }
        }
      }
    }
    // the seeds exercise both sides of the change feed's refusal
    assert(accepted > 0 && refused > 0, s"accepted=$accepted refused=$refused")
  }
}
