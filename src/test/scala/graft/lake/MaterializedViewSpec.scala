package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import MaterializedView.MvDef

/** Incremental materialized-view maintenance against the one invariant that
  * matters: after ANY refresh sequence, the MV equals the aggregate
  * recomputed from the base's current logical contents.
  */
class MaterializedViewSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("category", StringType),
    StructField("amount", DoubleType)))

  private def rows(ids: Range, cat: String) =
    ids.map(i => (i.toLong, cat, i * 1.0)).toDF("id", "category", "amount")

  private def setup(): (LakeLog, MvDef) = {
    val log = new LakeLog(tmpDir("mv"))
    LakeTable.createTable(log, "sales", schema)
    val d = MvDef("sales_by_cat", "sales", "category", Seq("amount"))
    MaterializedView.create(log, d)
    (log, d)
  }

  private def expected(log: LakeLog) =
    LakeTable.read(spark, log, "sales")
      .groupBy("category")
      .agg(count(lit(1)).as("n_rows"), sum("amount").as("sum_amount"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  private def actual(log: LakeLog, d: MvDef) =
    LakeTable.read(spark, log, d.name)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  test("incremental refresh over appends equals recompute from scratch") {
    val (log, d) = setup()
    LakeTable.insert(spark, log, "sales", rows(1 to 50, "a"))
    val r1 = MaterializedView.refresh(spark, log, d)
    assert(r1.mode == "incremental" && r1.fromVersion == 0)
    assert(actual(log, d) == expected(log))

    LakeTable.insert(spark, log, "sales", rows(51 to 80, "a"))
    LakeTable.insert(spark, log, "sales", rows(81 to 100, "b"))
    val r2 = MaterializedView.refresh(spark, log, d)
    assert(r2.mode == "incremental" && r2.fromVersion == r1.toVersion)
    assert(actual(log, d) == expected(log))
    // the merge touched key "a" (existing) and created key "b"
    assert(actual(log, d).map(_._1) == Seq("a", "b"))
  }

  test("min/max maintain monotonically under appends, full-recover on delete") {
    val log = new LakeLog(tmpDir("mvmm"))
    LakeTable.createTable(log, "sales", schema)
    val d = MvDef("sales_mm", "sales", "category", Seq("amount"),
      minCols = Seq("amount"), maxCols = Seq("amount"))
    MaterializedView.create(log, d)
    def expectedMm = LakeTable.read(spark, log, "sales")
      .groupBy("category")
      .agg(count(lit(1)).as("n_rows"), sum("amount").as("sum_amount"),
        min("amount").as("min_amount"), max("amount").as("max_amount"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    def actualMm = LakeTable.read(spark, log, d.name)
      .select("category", "n_rows", "sum_amount", "min_amount", "max_amount")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq

    // append-only windows: min can only drop, max only rise — incremental
    LakeTable.insert(spark, log, "sales", rows(10 to 20, "a"))
    assert(MaterializedView.refresh(spark, log, d).mode == "incremental")
    assert(actualMm == expectedMm)
    LakeTable.insert(spark, log, "sales",
      rows(1 to 5, "a").unionAll(rows(30 to 40, "b")))
    assert(MaterializedView.refresh(spark, log, d).mode == "incremental")
    assert(actualMm == expectedMm)
    assert(actualMm.find(_._1 == "a").get._4 == 1.0) // min dropped 10 → 1

    // a delete can RAISE a min — must not ride the monotone merge
    LakeTable.deleteWhere(spark, log, "sales", "amount <= 5")
    assert(MaterializedView.refresh(spark, log, d).mode == "full")
    assert(actualMm == expectedMm)
    assert(actualMm.find(_._1 == "a").get._4 == 10.0) // min back up

    // appends after the fallback merge monotonically again
    LakeTable.insert(spark, log, "sales", rows(7 to 8, "a"))
    assert(MaterializedView.refresh(spark, log, d).mode == "incremental")
    assert(actualMm == expectedMm)
  }

  test("refresh is exactly-once: re-running at the same version is a noop") {
    val (log, d) = setup()
    LakeTable.insert(spark, log, "sales", rows(1 to 10, "a"))
    assert(MaterializedView.refresh(spark, log, d).mode == "incremental")
    val again = MaterializedView.refresh(spark, log, d)
    assert(again.mode == "noop")
    assert(actual(log, d) == expected(log))
  }

  test("compaction between refreshes is layout-only: still incremental") {
    val (log, d) = setup()
    (1 to 4).foreach(i =>
      LakeTable.insert(spark, log, "sales", rows(i * 10 to i * 10 + 9, "a")))
    assert(MaterializedView.refresh(spark, log, d).mode == "incremental")
    LakeTable.compact(spark, log, "sales", force = true)
    LakeTable.insert(spark, log, "sales", rows(1000 to 1009, "b"))
    val r = MaterializedView.refresh(spark, log, d)
    // the compaction entry must NOT force a full recompute, and its
    // rewritten rows must NOT be double-counted
    assert(r.mode == "incremental")
    assert(actual(log, d) == expected(log))
  }

  test("a compaction-only window advances the mark without touching MV files") {
    val (log, d) = setup()
    (1 to 4).foreach(i =>
      LakeTable.insert(spark, log, "sales", rows(i * 10 to i * 10 + 9, "a")))
    assert(MaterializedView.refresh(spark, log, d).mode == "incremental")
    val filesBefore = log.snapshot(d.name).files.map(_.path)
    LakeTable.compact(spark, log, "sales", force = true)
    val r = MaterializedView.refresh(spark, log, d)
    // logically-empty delta: a metadata-only commit — the MV's data files
    // must be byte-identical (no whole-table rewrite through upsert)
    assert(r.mode == "incremental")
    assert(log.snapshot(d.name).files.map(_.path) == filesBefore)
    assert(MaterializedView.lastRefreshed(log, d) ==
      log.latestVersion("sales"))
    assert(actual(log, d) == expected(log))
  }

  test("a delete on the base falls back to full recompute, still exact") {
    val (log, d) = setup()
    LakeTable.insert(spark, log, "sales", rows(1 to 100, "a"))
    LakeTable.insert(spark, log, "sales", rows(101 to 120, "b"))
    assert(MaterializedView.refresh(spark, log, d).mode == "incremental")
    LakeTable.deleteWhere(spark, log, "sales", "id > 110")
    val r = MaterializedView.refresh(spark, log, d)
    assert(r.mode == "full")
    assert(actual(log, d) == expected(log))
    // and subsequent appends go back to the incremental path
    LakeTable.insert(spark, log, "sales", rows(200 to 210, "c"))
    val r2 = MaterializedView.refresh(spark, log, d)
    assert(r2.mode == "incremental")
    assert(actual(log, d) == expected(log))
  }

  test("an upsert on the base falls back to full recompute, still exact") {
    val (log, d) = setup()
    LakeTable.insert(spark, log, "sales", rows(1 to 50, "a"))
    assert(MaterializedView.refresh(spark, log, d).mode == "incremental")
    // replace ids 40..60: 11 updates + 10 logical inserts, category flips
    val upd = (40 to 60).map(i => (i.toLong, "b", i * 2.0))
      .toDF("id", "category", "amount")
    LakeTable.upsert(spark, log, "sales", upd, "id")
    val r = MaterializedView.refresh(spark, log, d)
    assert(r.mode == "full")
    assert(actual(log, d) == expected(log))
  }

  test("streaming sink batches fold into the MV incrementally") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val log = new LakeLog(tmpDir("mvstream"))
    LakeTable.createTable(log, "sales", schema)
    val d = MvDef("sales_by_cat", "sales", "category", Seq("amount"))
    MaterializedView.create(log, d)

    val input = MemoryStream[(Long, String, Double)]
    val query = graft.streaming.Streams.sinkToLake(
      input.toDF().toDF("id", "category", "amount"), log, "sales",
      tmpDir("mvck").toString)
    try {
      input.addData((1L, "a", 1.0), (2L, "a", 2.0))
      query.processAllAvailable()
      assert(MaterializedView.refresh(spark, log, d).mode == "incremental")
      input.addData((3L, "b", 3.0))
      query.processAllAvailable()
      // the streaming sink appends logical rows — the MV keeps folding
      // deltas, never re-reading the table the stream has built up
      assert(MaterializedView.refresh(spark, log, d).mode == "incremental")
      assert(actual(log, d) == expected(log))
    } finally query.stop()
  }

  test("NULL group keys route to the full path and never duplicate") {
    val (log, d) = setup()
    def withNull(ids: Range, cat: String) =
      ids.map(i => (i.toLong, if (i % 3 == 0) null else cat, i * 1.0))
        .toDF("id", "category", "amount")
    LakeTable.insert(spark, log, "sales", withNull(1 to 30, "a"))
    // delta contains a NULL group: the upsert merge can't carry it
    // (NULL = NULL never matches), so refresh must take the full path
    assert(MaterializedView.refresh(spark, log, d).mode == "full")
    LakeTable.insert(spark, log, "sales", withNull(31 to 60, "a"))
    assert(MaterializedView.refresh(spark, log, d).mode == "full")
    val mv = LakeTable.read(spark, log, d.name).collect()
    assert(mv.count(_.isNullAt(0)) == 1, "exactly one NULL-group row")
    val expectedRows = LakeTable.read(spark, log, "sales")
      .groupBy("category")
      .agg(count(lit(1)).as("n_rows"), sum("amount").as("sum_amount"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getDouble(2))).toSet
    assert(mv.map(r => (Option(r.getString(0)), r.getLong(1),
      r.getDouble(2))).toSet == expectedRows)
    // an all-non-null delta after that still goes incremental
    LakeTable.insert(spark, log, "sales", rows(61 to 70, "b"))
    assert(MaterializedView.refresh(spark, log, d).mode == "incremental")
  }

  test("continuousRefresh keeps the MV fresh as the base commits land") {
    val (log, d) = setup()
    LakeTable.insert(spark, log, "sales", rows(1 to 20, "a"))
    val query = MaterializedView.continuousRefresh(spark, log, d,
      tmpDir("mvcr").toString)
    try {
      query.processAllAvailable()
      assert(actual(log, d) == expected(log))
      LakeTable.insert(spark, log, "sales", rows(21 to 50, "b"))
      LakeTable.insert(spark, log, "sales", rows(51 to 60, "a"))
      query.processAllAvailable()
      assert(actual(log, d) == expected(log))
      assert(MaterializedView.lastRefreshed(log, d) ==
        log.latestVersion("sales"))
    } finally query.stop()
  }

  test("concurrent refreshes land exactly once") {
    val (log, d) = setup()
    LakeTable.insert(spark, log, "sales", rows(1 to 40, "a"))
    LakeTable.insert(spark, log, "sales", rows(41 to 60, "b"))
    // two racing refreshers of the same delta: OCC + the shared
    // mv-...-to-<cur> txn id must apply the merge exactly once
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val results = (1 to 2).map { _ =>
      pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = {
          gate.await()
          try MaterializedView.refresh(spark, log, d).mode
          catch { case e: Throwable => s"err:${e.getClass.getSimpleName}" }
        }
      })
    }
    gate.countDown()
    val modes = results.map(_.get())
    pool.shutdown()
    // refreshes are serialized per MV: one folds the delta, the loser
    // re-derives the high-water mark and becomes a noop (the idempotency
    // txn still backstops a replayed winner) — no double-counting
    assert(modes.sorted == Seq("incremental", "noop"), modes.toString)
    assert(actual(log, d) == expected(log))
    assert(MaterializedView.lastRefreshed(log, d) ==
      log.latestVersion("sales"))
    // exactly one refresh txn for this high-water mark in the MV log
    val refreshCommits = log.versions(d.name)
      .map(v => log.readEntry(d.name, v).txn_id)
      .count(_ == s"mv-${d.name}-to-${log.latestVersion("sales")}")
    assert(refreshCommits == 1)
  }

  test("refresh bookkeeping reads O(interval) entries of the MV log") {
    // interval 2, more refreshes than that: a reader that scans every
    // entry of the MV log reads 6-7 of them; the txn map reads <= 3
    val log = new LakeLog(tmpDir("mvck"), checkpointInterval = 2)
    LakeTable.createTable(log, "sales", schema)
    LakeTable.createTable(log, "cats", StructType(Seq(
      StructField("category", StringType, nullable = false),
      StructField("region", StringType))))
    LakeTable.insert(spark, log, "cats",
      Seq(("a", "north"), ("b", "south")).toDF("category", "region"))
    val d = MvDef("by_cat", "sales", "category", Seq("amount"))
    val j = MvDef("by_region", "sales", "region", Seq("amount"),
      joinTable = Some("cats"), joinOn = Some("category"))
    Seq(d, j).foreach(MaterializedView.create(log, _))
    // (base version, dim version, MV version) of every refresh commit
    val folded = Map(d -> Seq.newBuilder[(Long, Long, Long)],
      j -> Seq.newBuilder[(Long, Long, Long)])
    def refresh(m: MvDef): Unit = {
      MaterializedView.refresh(spark, log, m)
      val dimV = m.joinTable.fold(-1L)(log.latestVersion)
      folded(m) += ((log.latestVersion("sales"), dimV,
        log.latestVersion(m.name)))
    }
    (1 to 5).foreach { i =>
      LakeTable.insert(spark, log, "sales",
        rows(i * 10 to i * 10 + 3, if (i % 2 == 0) "a" else "b"))
      if (i == 3) LakeTable.insert(spark, log, "cats",
        Seq(("c", "west")).toDF("category", "region"))
      Seq(d, j).foreach(refresh)
    }
    // a dim-only refresh: the same fact high-water under a newer dim token
    LakeTable.insert(spark, log, "cats",
      Seq(("d", "east")).toDF("category", "region"))
    refresh(j)
    assert(log.latestVersion(d.name) == 5 && log.latestVersion(j.name) == 6)
    Seq(d, j).foreach { m =>
      val fresh = new LakeLog(log.root, checkpointInterval = 2)
      assert(MaterializedView.lastRefreshed(fresh, m) ==
        log.latestVersion("sales"))
      if (m.joinTable.isDefined)
        assert(MaterializedView.lastDimVersion(fresh, m) ==
          log.latestVersion("cats"))
      folded(m).result().foreach { case (baseV, dimV, mvV) =>
        assert(MaterializedView.refreshVersionAt(fresh, m, baseV, dimV) ==
          Some(mvV), s"${m.name}: refresh of base v$baseV dim v$dimV")
      }
      assert(fresh.entryReads.get() <= 3,
        s"${m.name}: read ${fresh.entryReads.get()} MV log entries")
    }
  }

  test("read() derives exact means from the maintained sums") {
    val (log, d) = setup()
    LakeTable.insert(spark, log, "sales", rows(1 to 4, "a")) // amounts 1..4
    MaterializedView.refresh(spark, log, d)
    val row = MaterializedView.read(spark, log, d)
      .filter(col("category") === "a")
      .select("n_rows", "sum_amount", "avg_amount").head()
    assert(row.getLong(0) == 4 && row.getDouble(1) == 10.0 &&
      row.getDouble(2) == 2.5)
  }
}
