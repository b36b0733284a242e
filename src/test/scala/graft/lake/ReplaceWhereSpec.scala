package graft.lake

import graft.SparkSpec
import graft.operators.QueryEngine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Atomic predicate-scoped overwrite (replaceWhere): one commit swaps the
  * matching region for the new rows; untouched files stay byte- and
  * path-identical; region violations reject before staging; DV holes in
  * rewritten survivors stay dead.
  */
class ReplaceWhereSpec extends SparkSpec {
  import spark.implicits._

  private def newLog() = new LakeLog(tmpDir("lakerw"))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("part", StringType),
    StructField("v", DoubleType)))

  private def df(ids: Range, part: String, scale: Double = 1.0) =
    ids.map(i => (i.toLong, part, i * scale)).toDF("id", "part", "v")

  private def fileBytes(p: String): Long =
    java.nio.file.Files.size(java.nio.file.Paths.get(p))

  test("backfill one partition: untouched files identical, one commit") {
    val log = newLog()
    log.createTable("t", TableSchema(IndexedSeq(
      Field("id", "int64", nullable = false), Field("part", "string"),
      Field("v", "float64")), partition_columns = Some(Seq("part"))))
    LakeTable.insert(spark, log, "t",
      df(1 to 100, "a").unionByName(df(101 to 200, "b")), numFiles = 2)
    val before = log.snapshot("t")
    val untouchedBefore = before.files
      .filter(_.partition("part") == "b").map(f => f.path -> fileBytes(f.path))
    val r = LakeTable.replaceWhere(spark, log, "t", "part = a",
      df(1 to 50, "a", scale = 10.0))
    assert(r.version == before.version + 1, "must be exactly one commit")
    assert(r.rowsRemoved == 100 && r.rowsAdded == 50)
    val after = log.snapshot("t")
    // partition b files: same paths, same bytes — never rewritten
    val untouchedAfter = after.files.filter(_.partition("part") == "b")
      .map(f => f.path -> fileBytes(f.path))
    assert(untouchedAfter.toSet == untouchedBefore.toSet)
    // contents: new a-slice plus untouched b-slice
    val back = LakeTable.read(spark, log, "t")
    assert(back.count() == 150)
    assert(back.filter(col("part") === "a").agg(sum("v"))
      .as[Double].head() == (1 to 50).map(_ * 10.0).sum)
    // time travel still sees the old slice
    assert(LakeTable.read(spark, log, "t", before.version)
      .filter(col("part") === "a").count() == 100)
  }

  test("rows outside the region reject the whole statement") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", df(1 to 100, "a"))
    val v = log.latestVersion("t")
    intercept[LakeValidationException] {
      LakeTable.replaceWhere(spark, log, "t", "id < 50",
        df(40 to 60, "a")) // 50..60 violate
    }
    assert(log.latestVersion("t") == v, "no commit after rejection")
    assert(LakeTable.read(spark, log, "t").count() == 100)
  }

  test("partial-file rewrite keeps non-matching rows and DV holes dead") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", df(1 to 100, "a"))
    // kill 90..100 via MOR first: the replace's survivor rewrite must not
    // resurrect them
    LakeTable.deleteWhereMor(spark, log, "t", "id > 89")
    val r = LakeTable.replaceWhere(spark, log, "t", "id < 11",
      df(1 to 5, "a", scale = 100.0))
    assert(r.rowsRemoved == 10 && r.rowsAdded == 5)
    val back = LakeTable.read(spark, log, "t").select("id").as[Long]
      .collect().sorted
    assert(back.toSeq == ((1L to 5L) ++ (11L to 89L)))
  }

  test("duplicate txn id replays as a no-op") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", df(1 to 20, "a"))
    val r1 = LakeTable.replaceWhere(spark, log, "t", "id < 6",
      df(1 to 3, "a"), txnId = "rw-1")
    val r2 = LakeTable.replaceWhere(spark, log, "t", "id < 6",
      df(1 to 3, "a"), txnId = "rw-1")
    assert(r2.version == r1.version && r2.rowsAdded == 0)
    assert(LakeTable.read(spark, log, "t").count() == 18)
  }

  test("empty match region degenerates to a plain guarded insert") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", df(1 to 20, "a"))
    val r = LakeTable.replaceWhere(spark, log, "t", "id > 1000",
      df(2000 to 2004, "a"))
    assert(r.filesReplaced == 0 && r.rowsRemoved == 0 && r.rowsAdded == 5)
    assert(LakeTable.read(spark, log, "t").count() == 25)
  }

  test("concurrent: disjoint regions both land; overlapping loser aborts") {
    import java.util.concurrent.{CountDownLatch, Executors}
    import scala.util.Try
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    try {
      // disjoint partitions: both writers must commit (OCC retry absorbs
      // the version race; neither touches the other's input files)
      val log = newLog()
      log.createTable("t", TableSchema(IndexedSeq(
        Field("id", "int64", nullable = false), Field("part", "string"),
        Field("v", "float64")), partition_columns = Some(Seq("part"))))
      LakeTable.insert(spark, log, "t",
        df(1 to 50, "a").unionByName(df(51 to 100, "b")), numFiles = 2)
      val gate = new CountDownLatch(2)
      def replace(part: String, ids: Range) = Future {
        gate.countDown(); gate.await()
        LakeTable.replaceWhere(spark, log, "t", s"part = $part",
          df(ids, part, scale = 10.0))
      }
      val (ra, rb) = (replace("a", 200 to 204), replace("b", 300 to 306))
      Await.result(ra, 120.seconds); Await.result(rb, 120.seconds)
      val back = LakeTable.read(spark, log, "t")
      assert(back.count() == 12)
      assert(back.filter(col("part") === "a").count() == 5)
      assert(back.filter(col("part") === "b").count() == 7)

      // overlapping region: exactly one writer wins, the loser aborts
      // with a conflict (its input files were removed by the winner)
      val log2 = newLog()
      LakeTable.createTable(log2, "t", schema)
      LakeTable.insert(spark, log2, "t", df(1 to 50, "a"))
      val gate2 = new CountDownLatch(2)
      def clash(lo: Int) = Future {
        gate2.countDown(); gate2.await()
        Try(LakeTable.replaceWhere(spark, log2, "t", "id < 1000",
          df(lo to lo + 4, "a")))
      }
      val outcomes = Seq(clash(600), clash(700)).map(
        Await.result(_, 120.seconds))
      assert(outcomes.count(_.isSuccess) == 1,
        s"expected exactly one winner, got $outcomes")
      assert(outcomes.exists(_.failed.toOption.exists(
        _.isInstanceOf[CommitConflictException])))
      assert(LakeTable.read(spark, log2, "t").count() == 5)
    } finally pool.shutdown()
  }

  test("append-conflict detector: foreign in-region file aborts, out-of-region passes") {
    val st = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("part", StringType), StructField("v", DoubleType)))
    def fa(path: String, lo: Long, hi: Long) = FileAdd(path, rows = 10,
      size = 100, stats = Some(FileStats(
        Map("id" -> lo.toString), Map("id" -> hi.toString))))
    val snapPaths = Set("f1", "f2")
    val region = LakeTable.pushedFilters(spark,
      Snapshot("t", 1, Some(LakeTable.fromStructType(st)), Nil),
      QueryEngine.parsePredicate("id < 10"))
    // no foreign files → never a conflict
    assert(!LakeTable.replaceAppendConflict(snapPaths,
      Seq(fa("f1", 1, 50), fa("f2", 51, 100)), region))
    // foreign file provably outside the region → safe
    assert(!LakeTable.replaceAppendConflict(snapPaths,
      Seq(fa("f1", 1, 50), fa("f3", 500, 600)), region))
    // foreign file overlapping the region → conflict
    assert(LakeTable.replaceAppendConflict(snapPaths,
      Seq(fa("f1", 1, 50), fa("f3", 5, 8)), region))
    // foreign file with NO stats → unprunable → conservative conflict
    assert(LakeTable.replaceAppendConflict(snapPaths,
      Seq(FileAdd("f3", rows = 1, size = 10)), region))
  }

  test("empty replacement df clears the region without committing 0-row files") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", df(1 to 30, "a"))
    val r = LakeTable.replaceWhere(spark, log, "t", "id < 11",
      df(1 to 0, "a")) // empty range → empty df
    assert(r.rowsRemoved == 10 && r.rowsAdded == 0)
    assert(log.snapshot("t").files.forall(_.rows > 0),
      "a 0-row file entry was committed")
    assert(LakeTable.read(spark, log, "t").count() == 20)
  }

  test("SQL surface: INSERT INTO .. REPLACE WHERE and VERSION AS OF") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", df(1 to 100, "a"))
    val vOld = log.latestVersion("t")
    graft.api.LakeSql.execute(spark, log,
      "INSERT INTO t REPLACE WHERE id < 11 " +
        "SELECT id, part, v * 2 AS v FROM t WHERE id < 6")
    val now = graft.api.LakeSql.execute(spark, log,
      "SELECT count(*) AS n FROM t").as[Long].head()
    assert(now == 95)
    val before = graft.api.LakeSql.execute(spark, log,
      s"SELECT count(*) AS n FROM t VERSION AS OF $vOld").as[Long].head()
    assert(before == 100)
  }
}
