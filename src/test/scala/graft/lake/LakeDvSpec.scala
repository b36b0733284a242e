package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Merge-on-read DELETE via deletion vectors: positions-only sidecars, data
  * bytes never rewritten, readers subtract holes with a broadcast anti-join,
  * compaction materializes, vacuum tracks sidecar liveness.
  */
class LakeDvSpec extends SparkSpec {
  import spark.implicits._

  private def newLog() = new LakeLog(tmpDir("lakedv"))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("category", StringType),
    StructField("price", DoubleType)))

  private def sampleDf(ids: Range, cat: String) =
    ids.map(i => (i.toLong, cat, i * 1.5)).toDF("id", "category", "price")

  private def fileBytes(p: String): Long =
    java.nio.file.Files.size(java.nio.file.Paths.get(p))

  test("MOR delete removes rows without touching data files") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    LakeTable.insert(spark, log, "t", sampleDf(101 to 200, "b"))
    val before = log.snapshot("t").files.map(f => f.path -> fileBytes(f.path))
    val r = LakeTable.deleteWhereMor(spark, log, "t", "id > 150")
    assert(r.rowsDeleted == 50 && r.filesWithDv == 1 && r.filesRemoved == 0 &&
      r.filesUntouched == 1)
    // same physical files, byte-identical — only the log changed
    val after = log.snapshot("t").files
    assert(after.map(_.path).sorted == before.map(_._1).sorted)
    before.foreach { case (p, sz) => assert(fileBytes(p) == sz) }
    // one file carries a DV of 50 positions; physical rows stay 100
    val dvd = after.filter(_.dvRows > 0)
    assert(dvd.size == 1 && dvd.head.dvRows == 50 && dvd.head.rows == 100)
    assert(dvd.head.liveRows == 50)
    // read path subtracts the holes
    val back = LakeTable.read(spark, log, "t")
    assert(back.count() == 150)
    assert(back.agg(max("id")).as[Long].head() == 150L)
    // indexed read agrees, including under a pushed filter
    val idx = LakeTable.readIndexed(spark, log, "t")
    assert(idx.count() == 150)
    assert(idx.filter(col("id") > 100).count() == 50)
  }

  test("MOR delete ≡ copy-on-write delete on the same data") {
    val log = newLog()
    LakeTable.createTable(log, "mor", schema)
    LakeTable.createTable(log, "cow", schema)
    val df = sampleDf(1 to 500, "x")
    LakeTable.insert(spark, log, "mor", df, numFiles = 4)
    LakeTable.insert(spark, log, "cow", df, numFiles = 4)
    LakeTable.deleteWhereMor(spark, log, "mor", "id <= 123")
    LakeTable.deleteWhere(spark, log, "cow", "id <= 123")
    val a = LakeTable.read(spark, log, "mor").orderBy("id").collect().toSeq
    val b = LakeTable.read(spark, log, "cow").orderBy("id").collect().toSeq
    assert(a == b && a.size == 377)
  }

  test("re-delete merges prior and new positions into one DV") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    LakeTable.deleteWhereMor(spark, log, "t", "id > 80")
    // overlapping predicate: 61..80 new, 81..100 already dead
    val r2 = LakeTable.deleteWhereMor(spark, log, "t", "id > 60")
    assert(r2.rowsDeleted == 20)
    val f = log.snapshot("t").files.head
    assert(f.dvRows == 40 && f.liveRows == 60)
    assert(LakeTable.read(spark, log, "t").count() == 60)
    // a delete that only re-hits dead rows is a no-op (no new version)
    val v = log.latestVersion("t")
    val r3 = LakeTable.deleteWhereMor(spark, log, "t", "id > 90")
    assert(r3.rowsDeleted == 0 && log.latestVersion("t") == v)
  }

  test("a fully-deleted file is removed outright, no DV") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 50, "a"))
    LakeTable.insert(spark, log, "t", sampleDf(51 to 100, "b"))
    val r = LakeTable.deleteWhereMor(spark, log, "t", "category = 'b'")
    assert(r.filesRemoved == 1 && r.filesWithDv == 0 && r.rowsDeleted == 50)
    val snap = log.snapshot("t")
    assert(snap.files.size == 1 && snap.files.forall(_.dv.isEmpty))
    assert(LakeTable.read(spark, log, "t").count() == 50)
  }

  test("time travel sees pre-delete data; restore undoes the delete") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    val preDelete = log.latestVersion("t")
    LakeTable.deleteWhereMor(spark, log, "t", "id > 90")
    assert(LakeTable.read(spark, log, "t").count() == 90)
    assert(LakeTable.read(spark, log, "t", preDelete).count() == 100)
    LakeTable.restore(log, "t", preDelete)
    assert(LakeTable.read(spark, log, "t").count() == 100)
  }

  test("compaction materializes DVs: holes gone, dv refs dropped") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    LakeTable.insert(spark, log, "t", sampleDf(101 to 200, "b"))
    LakeTable.deleteWhereMor(spark, log, "t", "id % 10 = 0")
    assert(LakeTable.read(spark, log, "t").count() == 180)
    val rep = LakeTable.compact(spark, log, "t", force = true)
    assert(rep.groupsCommitted >= 1)
    val snap = log.snapshot("t")
    assert(snap.files.forall(_.dv.isEmpty))
    assert(snap.files.map(_.rows).sum == 180)
    assert(LakeTable.read(spark, log, "t").count() == 180)
    assert(LakeTable.read(spark, log, "t")
      .filter(col("id") % 10 === 0).count() == 0)
  }

  test("deleted-fraction threshold triggers compactionNeeded") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    val cfg = LakeTable.CompactionConfig(
      // large files only, so the small-file trigger is quiet
      minFileSize = 1L, smallBytesTriggerRatio = 2.0)
    assert(!LakeTable.compactionNeeded(log.snapshot("t"), cfg))
    LakeTable.deleteWhereMor(spark, log, "t", "id <= 20") // 20% holes
    assert(LakeTable.compactionNeeded(log.snapshot("t"), cfg))
  }

  test("vacuum keeps a live DV sidecar and reclaims it after compaction") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    LakeTable.deleteWhereMor(spark, log, "t", "id > 50")
    val dvPath = log.snapshot("t").files.flatMap(_.dv).head.path
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dvPath)))
    // retainVersions=1 keeps only the latest snapshot — the DV is live there
    LakeTable.vacuum(log, "t", retainVersions = 1, tmpRetainMs = 0)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dvPath)))
    assert(LakeTable.read(spark, log, "t").count() == 50)
    // materialize, then vacuum: the sidecar leaves every retained snapshot
    LakeTable.compact(spark, log, "t", force = true)
    LakeTable.vacuum(log, "t", retainVersions = 1, tmpRetainMs = 0)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dvPath)))
    assert(LakeTable.read(spark, log, "t").count() == 50)
  }

  test("StatsAgg: COUNT(*) exact from metadata under DVs; columns fall back") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    LakeTable.deleteWhereMor(spark, log, "t", "id > 75")
    val snap = log.snapshot("t")
    // count-only stays metadata-answered and subtracts the dv
    val countOnly = StatsAgg.fromStats(spark, snap, Nil)
    assert(countOnly.isDefined)
    assert(countOnly.get.select("n_rows").as[Long].head() == 75L)
    // per-column answers refuse the fast path (a hole may hold the max)...
    assert(StatsAgg.fromStats(spark, snap, Seq("id")).isEmpty)
    // ...and the scan fallback returns the post-delete truth
    val agg = StatsAgg.aggregate(spark, log, "t", Seq("id"))
    val row = agg.collect().head
    assert(row.getAs[Long]("n_rows") == 75L)
    assert(row.getAs[Long]("max_id") == 75L)
  }

  test("MOR delete on a partitioned table, predicate on partition column") {
    val log = newLog()
    val pSchema = TableSchema(Seq(
      Field("id", "int64", nullable = false), Field("cat", "string"),
      Field("price", "float64")), partition_columns = Some(Seq("cat")))
    log.createTable("p", pSchema)
    val df = (1 to 60).map(i => (i.toLong, if (i % 2 == 0) "even" else "odd",
      i * 1.0)).toDF("id", "cat", "price")
    LakeTable.insert(spark, log, "p", df)
    // partition-column predicate: whole partition dies file-by-file
    val r = LakeTable.deleteWhereMor(spark, log, "p", "cat = 'even'")
    assert(r.rowsDeleted == 30)
    assert(LakeTable.read(spark, log, "p").count() == 30)
    // mixed predicate referencing data + partition columns
    LakeTable.deleteWhereMor(spark, log, "p", "id <= 11")
    val left = LakeTable.read(spark, log, "p")
    assert(left.count() == 24)
    assert(left.filter(col("cat") === "even").count() == 0)
    assert(left.agg(min("id")).as[Long].head() == 13L)
  }

  test("idempotent under txn retry; duplicate leaves no extra sidecar") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    val r1 = LakeTable.deleteWhereMor(spark, log, "t", "id > 90", "txD")
    val v1 = log.latestVersion("t")
    val r2 = LakeTable.deleteWhereMor(spark, log, "t", "id > 90", "txD")
    assert(r2.version == r1.version && log.latestVersion("t") == v1)
    assert(LakeTable.read(spark, log, "t").count() == 90)
    // exactly one dv sidecar exists in the data dir
    val s = java.nio.file.Files.list(log.dataDir("t"))
    val dvFiles = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.count(_.getFileName.toString.startsWith("dv-"))
    } finally s.close()
    assert(dvFiles == 1)
  }

  test("diff classifies DV-deleted rows as deletes") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    val v1 = log.latestVersion("t")
    LakeTable.deleteWhereMor(spark, log, "t", "id > 95")
    val d = LakeTable.diff(spark, log, "t", v1, keyCols = Seq("id"))
    val rows = d.collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[String]("change_type") == "delete"))
  }

  test("count/sum MV folds a MOR delete incrementally (negative delta)") {
    val log = newLog()
    LakeTable.createTable(log, "base", schema)
    LakeTable.insert(spark, log, "base", sampleDf(1 to 100, "a"))
    LakeTable.insert(spark, log, "base", sampleDf(101 to 200, "b"))
    val d = MaterializedView.MvDef("mv1", "base", "category",
      sumCols = Seq("price"))
    MaterializedView.create(log, d)
    MaterializedView.refresh(spark, log, d)
    // partial delete in one category + an append, same window
    LakeTable.deleteWhereMor(spark, log, "base", "id > 180")
    LakeTable.insert(spark, log, "base", sampleDf(201 to 210, "a"))
    val res = MaterializedView.refresh(spark, log, d)
    assert(res.mode == "incremental_dv")
    val mv = MaterializedView.read(spark, log, d).collect()
      .map(r => r.getAs[String]("category") ->
        (r.getAs[Long]("n_rows"), r.getAs[Double]("sum_price"))).toMap
    assert(mv("a") == (110L, ((1 to 100) ++ (201 to 210)).map(_ * 1.5).sum))
    assert(mv("b") == (80L, (101 to 180).map(_ * 1.5).sum))
    // base and MV agree exactly with a from-scratch aggregate
    val truth = LakeTable.read(spark, log, "base").groupBy("category")
      .agg(count(lit(1)), sum("price")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(mv == truth)
  }

  test("min/max MV still falls back to full recompute on a MOR delete") {
    val log = newLog()
    LakeTable.createTable(log, "base", schema)
    LakeTable.insert(spark, log, "base", sampleDf(1 to 100, "a"))
    val d = MaterializedView.MvDef("mv2", "base", "category",
      sumCols = Seq("price"), maxCols = Seq("id"))
    MaterializedView.create(log, d)
    MaterializedView.refresh(spark, log, d)
    LakeTable.deleteWhereMor(spark, log, "base", "id > 50")
    val res = MaterializedView.refresh(spark, log, d)
    assert(res.mode == "full")
    val mv = MaterializedView.read(spark, log, d).collect().head
    assert(mv.getAs[Long]("max_id") == 50L && mv.getAs[Long]("n_rows") == 50L)
  }

  test("a fully-deleted group sends the MV to full recompute (no 0-rows)") {
    val log = newLog()
    LakeTable.createTable(log, "base", schema)
    LakeTable.insert(spark, log, "base", sampleDf(1 to 50, "a")
      .unionByName(sampleDf(51 to 60, "gone")))
    val d = MaterializedView.MvDef("mv3", "base", "category",
      sumCols = Seq("price"))
    MaterializedView.create(log, d)
    MaterializedView.refresh(spark, log, d)
    LakeTable.deleteWhereMor(spark, log, "base", "category = 'gone'")
    val res = MaterializedView.refresh(spark, log, d)
    assert(res.mode == "full")
    val rows = MaterializedView.read(spark, log, d).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("category") == "a")
  }

  test("changeFeed emits inserts and DV deletes; refuses CoW windows") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    val v0 = log.latestVersion("t")
    LakeTable.insert(spark, log, "t", sampleDf(101 to 120, "b"))
    LakeTable.deleteWhereMor(spark, log, "t", "id <= 10")
    val feed = LakeTable.changeFeed(spark, log, "t", v0)
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 20L, "delete" -> 10L))
    // the delete rows are exactly the matched ones
    val del = feed.filter(col("_change_type") === "delete")
    assert(del.agg(max("id")).as[Long].head() == 10L)
    // replaying the feed onto the v0 state reproduces the latest table
    val replayed = LakeTable.read(spark, log, "t", v0)
      .unionByName(feed.filter(col("_change_type") === "insert").drop("_change_type"))
      .exceptAll(del.drop("_change_type"))
    val now = LakeTable.read(spark, log, "t")
    assert(replayed.exceptAll(now).isEmpty && now.exceptAll(replayed).isEmpty)
    // CoW rewrite in the window → not expressible
    LakeTable.deleteWhere(spark, log, "t", "id > 115")
    assertThrows[LakeValidationException] {
      LakeTable.changeFeed(spark, log, "t", v0).count()
    }
  }

  test("changeFeed keeps the deletes of a file compacted later in the window") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    val v0 = log.latestVersion("t")
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    LakeTable.deleteWhereMor(spark, log, "t", "id <= 10")
    LakeTable.compact(spark, log, "t", force = true)
    // the compaction removed the DV'd file; its deletes still count
    assert(log.snapshot("t").files.forall(_.dv.isEmpty))
    val feed = LakeTable.changeFeed(spark, log, "t", v0)
    val del = feed.filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted.toSeq
    assert(del == (1L to 10L))
    assert(feed.filter(col("_change_type") === "insert").count() == 100)
  }

  test("a MOR delete that drops a whole file is a DV delta in the feed") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    val created = log.latestVersion("t")
    LakeTable.insert(spark, log, "t", sampleDf(1 to 50, "a"))
    LakeTable.insert(spark, log, "t", sampleDf(51 to 100, "b"))
    val v0 = log.latestVersion("t")
    val r = LakeTable.deleteWhereMor(spark, log, "t",
      "category = 'b' OR id <= 5")
    assert(r.filesWithDv == 1 && r.filesRemoved == 1)
    assert(LakeTable.changeWindow(log, "t", v0).versions.map(_._2) ==
      Seq(LakeTable.Change.DvDelta))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().sorted.toSeq
    val feed = LakeTable.changeFeed(spark, log, "t", v0)
    val diffed = LakeTable.diff(spark, log, "t", v0, keyCols = Seq("id"))
    assert(ids(diffed.filter(col("change_type") === "delete")) ==
      ((1L to 5L) ++ (51L to 100L)))
    assert(ids(feed.filter(col("_change_type") === "delete")) ==
      ids(diffed.filter(col("change_type") === "delete")))
    assert(feed.filter(col("_change_type") === "insert").isEmpty)
    // from before the inserts: the dropped file's rows were inserted in
    // the same window, so the feed replays onto the empty table exactly
    val all = LakeTable.changeFeed(spark, log, "t", created)
    def rows(kind: String) =
      all.filter(col("_change_type") === kind).drop("_change_type")
    val replayed = rows("insert").exceptAll(rows("delete"))
    assert(rows("delete").count() == 55)
    val now = LakeTable.read(spark, log, "t")
    assert(replayed.exceptAll(now).isEmpty && now.exceptAll(replayed).isEmpty)
  }

  test("count/sum MV folds a MOR delete that drops a whole file") {
    val log = newLog()
    LakeTable.createTable(log, "base", schema)
    LakeTable.insert(spark, log, "base", sampleDf(1 to 50, "a"))
    LakeTable.insert(spark, log, "base", sampleDf(51 to 100, "a"))
    val d = MaterializedView.MvDef("mv6", "base", "category",
      sumCols = Seq("price"))
    MaterializedView.create(log, d)
    MaterializedView.refresh(spark, log, d)
    LakeTable.deleteWhereMor(spark, log, "base", "id > 50 OR id <= 5")
    assert(MaterializedView.refresh(spark, log, d).mode == "incremental_dv")
    val mv = MaterializedView.read(spark, log, d).collect().head
    assert(mv.getAs[Long]("n_rows") == 45L &&
      mv.getAs[Double]("sum_price") == (6 to 50).map(_ * 1.5).sum)
  }

  test("count/sum MV folds a MOR delete whose file a compaction removed") {
    val log = newLog()
    LakeTable.createTable(log, "base", schema)
    LakeTable.insert(spark, log, "base", sampleDf(1 to 100, "a"))
    val d = MaterializedView.MvDef("mv5", "base", "category",
      sumCols = Seq("price"))
    MaterializedView.create(log, d)
    MaterializedView.refresh(spark, log, d)
    LakeTable.deleteWhereMor(spark, log, "base", "id > 80")
    LakeTable.compact(spark, log, "base", force = true)
    val res = MaterializedView.refresh(spark, log, d)
    assert(res.mode == "incremental_dv")
    val mv = MaterializedView.read(spark, log, d).collect()
      .map(r => r.getAs[String]("category") ->
        (r.getAs[Long]("n_rows"), r.getAs[Double]("sum_price"))).toMap
    val truth = LakeTable.read(spark, log, "base").groupBy("category")
      .agg(count(lit(1)), sum("price")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(truth("a")._1 == 80L)
    assert(mv == truth)
  }

  test("a clone's version 1 classifies against the empty table") {
    val log = newLog()
    LakeTable.createTable(log, "src", schema)
    LakeTable.insert(spark, log, "src", sampleDf(1 to 100, "a"))
    LakeTable.deleteWhereMor(spark, log, "src", "id <= 5")
    LakeTable.compact(spark, log, "src", force = true)
    LakeTable.cloneTable(log, "src", "dst")
    // version 1 re-adds the compacted (rewrite-flagged) file: content the
    // change feed cannot express, whatever commits come later
    assert(log.readEntry("dst", 1L).adds.forall(_.rewrite))
    def v1() = LakeTable.changeWindow(log, "dst", 0L, 1L).versions.map(_._2)
    val before = v1()
    assert(before == Seq(LakeTable.Change.Opaque))
    assertThrows[LakeValidationException] {
      LakeTable.changeFeed(spark, log, "dst", 0L, 1L)
    }
    val v1Paths = log.readEntry("dst", 1L).adds.map(_.path).toSet
    LakeTable.deleteWhere(spark, log, "dst", "id <= 10")
    assert(!v1Paths.subsetOf(log.snapshot("dst").files.map(_.path).toSet))
    assert(v1() == before)
    assertThrows[LakeValidationException] {
      LakeTable.changeFeed(spark, log, "dst", 0L, 1L)
    }
  }

  test("filesTable inventory + auto-sized inserts") {
    val log = newLog()
    LakeTable.createTable(log, "inv", schema)
    // tiny target forces the size estimate to split the batch
    LakeTable.insertAutoSized(spark, log, "inv", sampleDf(1 to 1000, "a"),
      targetFileBytes = 4096)
    val ft = LakeTable.filesTable(spark, log, "inv")
    assert(ft.count() >= 2)
    assert(ft.agg(sum("rows")).as[Long].head() == 1000L)
    LakeTable.deleteWhereMor(spark, log, "inv", "id <= 100")
    val ft2 = LakeTable.filesTable(spark, log, "inv")
    assert(ft2.agg(sum("live_rows")).as[Long].head() == 900L)
    assert(ft2.agg(sum("dv_rows")).as[Long].head() == 100L)
    assert(ft2.agg(sum("rows")).as[Long].head() == 1000L)
  }

  test("upsert and CoW delete apply DVs when rewriting touched files") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    LakeTable.deleteWhereMor(spark, log, "t", "id > 90")
    // upsert keys 1..5: rewrite must not resurrect 91..100
    val up = sampleDf(1 to 5, "z")
    LakeTable.upsert(spark, log, "t", up, "id")
    val back = LakeTable.read(spark, log, "t")
    assert(back.count() == 90)
    assert(back.filter(col("category") === "z").count() == 5)
    assert(back.agg(max("id")).as[Long].head() == 90L)
  }
}
