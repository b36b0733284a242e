package graft.lake

import graft.SparkSpec
import graft.api.QueryApi
import graft.operators.QueryEngine
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class PartitionEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("seg", StringType, nullable = false),
    StructField("n", LongType, nullable = false)))

  private def rows(ids: Range, seg: String) =
    ids.map(i => (i.toLong, seg, i.toLong * 10)).toDF("id", "seg", "n")

  private def tuples(df: DataFrame): Seq[(Long, String, Long)] =
    df.select("id", "seg", "n").as[(Long, String, Long)].collect().sorted.toSeq

  /** A table whose spec changed flat → seg (`toSeg`) or seg → flat after
    * v1 (ids 1-4 'a', 5-8 'b'); v3 (ids 9-10 'a', 11-12 'c') is written
    * under the new spec. */
  private def evolved(name: String, toSeg: Boolean): LakeLog = {
    val log = new LakeLog(tmpDir(name))
    LakeTable.createTable(log, "t", schema,
      partitionBy = if (toSeg) Nil else Seq("seg"))
    LakeTable.insert(spark, log, "t",
      rows(1 to 4, "a").union(rows(5 to 8, "b")))
    log.alterPartitioning("t", if (toSeg) Seq("seg") else Nil, "alter")
    LakeTable.insert(spark, log, "t",
      rows(9 to 10, "a").union(rows(11 to 12, "c")))
    log
  }

  test("spec change is metadata-only; layouts mix and reads stay exact") {
    val log = new LakeLog(tmpDir("pevo"))
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t",
      rows(1 to 4, "a").union(rows(5 to 8, "b")))         // v1: flat
    val r = log.alterPartitioning("t", Seq("seg"), "alter-1") // v2: meta
    assert(r.version === 2L && !r.duplicate)
    // metadata-only: no adds, no removes, schema carries the new spec
    val e = log.readEntry("t", 2L)
    assert(e.adds.isEmpty && e.removes.isEmpty)
    assert(log.snapshot("t").schema.get.partCols === Seq("seg"))
    LakeTable.insert(spark, log, "t",
      rows(9 to 10, "a").union(rows(11 to 12, "c")))      // v3: by seg
    // per-file maps follow each file's own spec
    val byVersion = log.snapshot("t").files.groupBy(_.partition.keySet)
    assert(byVersion.keySet === Set(Set.empty[String], Set("seg")))
    // both read paths reconstruct every row exactly
    for (df <- Seq(LakeTable.read(spark, log, "t"),
                   LakeTable.readIndexed(spark, log, "t"))) {
      assert(df.count() === 12)
      assert(df.filter(col("seg") === "a").agg(sum("id")).head.getLong(0)
        === (1 + 2 + 3 + 4 + 9 + 10))
      assert(df.filter(col("seg") === "c").select("id").as[Long]
        .collect().sorted.toSeq === Seq(11L, 12L))
    }
    // time travel: the pre-alter snapshot still reads under the old spec
    assert(LakeTable.read(spark, log, "t", version = 1L).count() === 8)
  }

  test("dropping the partition spec (back to flat) also works") {
    val log = new LakeLog(tmpDir("pevo2"))
    LakeTable.createTable(log, "t",
      StructType(schema.fields), partitionBy = Seq("seg"))
    LakeTable.insert(spark, log, "t", rows(1 to 4, "a"))
    log.alterPartitioning("t", Nil, "alter-flat")
    LakeTable.insert(spark, log, "t", rows(5 to 6, "b"))
    val df = LakeTable.read(spark, log, "t")
    assert(df.count() === 6)
    assert(df.filter(col("seg") === "b").count() === 2)
    // the legacy partitioned files' log-carried seg values must survive
    // the spec drop (they are absent from the physical bytes): a flat
    // read that forgot them would surface seg=NULL here
    assert(df.filter(col("seg") === "a").select("id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    assert(df.filter(col("seg").isNull).count() === 0)
    // WAP staged reads route the same way under mixed specs
    val wapDf = rows(7 to 8, "c")
    Wap.stage(spark, log, "t", wapDf, "wap-flat")
    val staged = Wap.readStaged(spark, log, "t", "wap-flat")
    assert(staged.count() === 8)
    assert(staged.filter(col("seg") === "a").count() === 4)
    assert(staged.filter(col("seg").isNull).count() === 0)
    val batch = Wap.readBatch(spark, log, "t", "wap-flat")
    assert(batch.count() === 2 &&
      batch.filter(col("seg") === "c").count() === 2)
  }

  test("compaction groups never cross specs and preserve each file's map") {
    val log = new LakeLog(tmpDir("pevo3"))
    LakeTable.createTable(log, "t", schema)
    // several small flat files, then several small seg-partitioned ones
    for (i <- 0 until 3)
      LakeTable.insert(spark, log, "t", rows(i * 2 + 1 to i * 2 + 2, "a"))
    log.alterPartitioning("t", Seq("seg"), "alter-1")
    for (i <- 0 until 3)
      LakeTable.insert(spark, log, "t", rows(100 + i to 100 + i, "b"))
    val report = LakeTable.compact(spark, log, "t", force = true)
    assert(report.groupsCommitted > 0)
    val files = log.snapshot("t").files
    // every surviving file still declares exactly one spec
    assert(files.map(_.partition.keySet).toSet
      === Set(Set.empty[String], Set("seg")))
    val df = LakeTable.read(spark, log, "t")
    assert(df.count() === 9)
    assert(df.filter(col("seg") === "b").count() === 3)
  }

  test("MoR delete across a spec change equals the copy-on-write delete") {
    for (toSeg <- Seq(true, false)) {
      val mor = evolved("pevo-mor", toSeg)
      val cow = evolved("pevo-cow", toSeg)
      // the second delete re-deletes from a file the first one DV'd
      for ((pred, n) <- Seq("id <= 2" -> 2, "seg = 'a'" -> 4)) {
        val r = LakeTable.deleteWhereMor(spark, mor, "t", pred)
        val c = LakeTable.deleteWhere(spark, cow, "t", pred)
        assert(c.rowsDeleted === n && r.rowsDeleted === n, s"toSeg=$toSeg $pred")
      }
      val want = tuples(LakeTable.read(spark, cow, "t"))
      assert(want.map(_._1) === (5L to 8L) ++ (11L to 12L))
      assert(tuples(LakeTable.read(spark, mor, "t")) === want)
      assert(tuples(LakeTable.readIndexed(spark, mor, "t")) === want)
    }
  }

  test("dvDeletedRows and the change feed keep each file's own map") {
    val log = evolved("pevo-dv", toSeg = false)
    val v = log.latestVersion("t")
    LakeTable.deleteWhereMor(spark, log, "t", "id IN (1, 2, 9)")
    val want = Seq((1L, "a", 10L), (2L, "a", 20L), (9L, "a", 90L))
    assert(tuples(LakeTable.dvDeletedRows(spark, log, "t", v)) === want)
    assert(tuples(LakeTable.changeFeed(spark, log, "t", v)
      .filter(col("_change_type") === "delete")) === want)
  }

  test("a lake stream from version 0 reads every file under its own map") {
    for (toSeg <- Seq(true, false)) {
      val log = evolved("pevo-stream", toSeg)
      val all = tuples(LakeTable.read(spark, log, "t"))
      assert(all.size === 12 && all.forall(_._2 != null))
      for (cdf <- Seq(false, true)) {
        val name = s"pevo_stream_${toSeg}_$cdf"
        val q = (if (cdf) Streams.lakeChangeFeedStream(spark, log, "t")
            else Streams.lakeStream(spark, log, "t"))
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", tmpDir(name).toString).start()
        try {
          q.processAllAvailable()
          assert(tuples(spark.table(name)) === all, s"toSeg=$toSeg cdf=$cdf")
          if (cdf) {
            // delete partitions over a file of each spec
            LakeTable.deleteWhereMor(spark, log, "t", "id IN (1, 9)")
            q.processAllAvailable()
            assert(tuples(spark.table(name)
                .filter(col("_change_type") === "delete")) ===
              Seq((1L, "a", 10L), (9L, "a", 90L)))
          }
        } finally q.stop()
      }
    }
  }

  test("JSON group_by on the partition column after flat → seg equals the scan") {
    val log = evolved("pevo-json", toSeg = true)
    val json = """{"table_name": "t", "group_by": ["seg"], "aggregates": [
      {"function": "count", "column": "*"},
      {"function": "max", "column": "id"}]}"""
    val want = QueryEngine.run(LakeTable.read(spark, log, "t"),
      QueryApi.toSimpleQuery(QueryApi.parse(json)))
    val got = QueryApi.runLake(spark, log, json)
    assert(got.columns.toSeq === want.columns.toSeq)
    assert(got.collect().map(_.toString).sorted.toSeq ===
      want.collect().map(_.toString).sorted.toSeq)
    assert(got.count() === 3)
  }

  test("SQL face: ALTER TABLE .. SET PARTITIONED BY evolves the spec") {
    val log = new LakeLog(tmpDir("pevo5"))
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", rows(1 to 2, "a"))
    val st = graft.api.LakeSql.execute(spark, log,
      "ALTER TABLE t SET PARTITIONED BY (seg)").collect().head
    assert(st.getAs[String]("partitioned_by") === "seg")
    assert(log.snapshot("t").schema.get.partCols === Seq("seg"))
    LakeTable.insert(spark, log, "t", rows(3 to 4, "b"))
    assert(LakeTable.read(spark, log, "t").count() === 4)
    // empty parens drop the spec
    graft.api.LakeSql.execute(spark, log,
      "ALTER TABLE t SET PARTITIONED BY ()")
    assert(log.snapshot("t").schema.get.partCols === Nil)
  }

  test("validation: unknown column, no-op spec, txn replay") {
    val log = new LakeLog(tmpDir("pevo4"))
    LakeTable.createTable(log, "t", schema)
    intercept[LakeValidationException] {
      log.alterPartitioning("t", Seq("nope"), "x1")
    }
    log.alterPartitioning("t", Seq("seg"), "x2")
    intercept[LakeValidationException] {
      log.alterPartitioning("t", Seq("seg"), "x3") // already that spec
    }
    val again = log.alterPartitioning("t", Seq("id", "seg"), "x2")
    assert(again.duplicate && again.version === 1L) // txn-map replay
  }
}
