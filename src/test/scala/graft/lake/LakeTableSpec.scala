package graft.lake

import graft.SparkSpec
import graft.operators.QueryEngine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end lake table behavior on real Spark reads/writes: insert with
  * real stats, snapshot-isolated reads across compaction (Property 30), and
  * stat-based file pruning.
  */
class LakeTableSpec extends SparkSpec {
  import spark.implicits._

  private def newLog() = new LakeLog(tmpDir("laketable"))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("category", StringType),
    StructField("price", DoubleType)))

  private def sampleDf(ids: Range, cat: String) =
    ids.map(i => (i.toLong, cat, i * 1.5)).toDF("id", "category", "price")

  test("insert computes real per-file stats and commits") {
    val log = newLog()
    LakeTable.createTable(log, "sales", schema)
    val r = LakeTable.insert(spark, log, "sales", sampleDf(1 to 100, "a"))
    assert(r == CommitResult(1, duplicate = false))
    val snap = log.snapshot("sales")
    assert(snap.files.size == 1)
    val f = snap.files.head
    assert(f.rows == 100 && f.size > 0)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f.path)))
    val st = f.stats.get
    assert(st.min_values("id") == "1" && st.max_values("id") == "100")
    assert(st.min_values("category") == "a")
    // read back through the log
    val back = LakeTable.read(spark, log, "sales")
    assert(back.count() == 100)
    assert(back.agg(sum("price")).as[Double].head() ==
      (1 to 100).map(_ * 1.5).sum)
  }

  test("insert is idempotent under txn retry") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    val r1 = LakeTable.insert(spark, log, "t", sampleDf(1 to 10, "a"), "txA")
    val r2 = LakeTable.insert(spark, log, "t", sampleDf(1 to 10, "a"), "txA")
    assert(!r1.duplicate && r2.duplicate && r2.version == r1.version)
    assert(LakeTable.read(spark, log, "t").count() == 10)
  }

  test("multi-file insert partitions the write") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 1000, "a"), numFiles = 4)
    val snap = log.snapshot("t")
    assert(snap.files.size == 4)
    assert(snap.files.map(_.rows).sum == 1000)
    assert(LakeTable.read(spark, log, "t").count() == 1000)
  }

  test("Property 30: compaction preserves query results; old versions intact") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    LakeTable.insert(spark, log, "t", sampleDf(101 to 200, "b"))
    LakeTable.insert(spark, log, "t", sampleDf(201 to 300, "c"))
    val preVersion = log.latestVersion("t")
    val preCount = LakeTable.read(spark, log, "t").count()
    val preSum = LakeTable.read(spark, log, "t")
      .agg(sum("price")).as[Double].head()

    val report = LakeTable.compact(spark, log, "t", force = true)
    assert(report.groupsCommitted == 1 && report.filesRemoved == 3 &&
      report.filesAdded == 1)
    val post = log.snapshot("t")
    assert(post.files.size == 1 && post.version == preVersion + 1)
    val df = LakeTable.read(spark, log, "t")
    assert(df.count() == preCount)
    assert(df.agg(sum("price")).as[Double].head() == preSum)
    // snapshot isolation: the pre-compaction version still reads the old files
    val timeTravel = LakeTable.read(spark, log, "t", preVersion)
    assert(timeTravel.count() == preCount)
    assert(log.snapshot("t", preVersion).files.size == 3)
  }

  test("compaction trigger: only when small-file bytes exceed 10% of table") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 10, "a"))
    val snap = log.snapshot("t")
    // all files are tiny → 100% small bytes → triggered
    assert(LakeTable.compactionNeeded(snap, LakeTable.CompactionConfig()))
    // with a minFileSize below every file, nothing is "small" → not triggered
    assert(!LakeTable.compactionNeeded(snap,
      LakeTable.CompactionConfig(minFileSize = 1)))
    // non-forced compact respects the trigger
    val r = LakeTable.compact(spark, log, "t",
      LakeTable.CompactionConfig(minFileSize = 1))
    assert(r.groupsPlanned == 0 && r.finalVersion == snap.version)
  }

  test("planCompaction groups: ≤ maxFileSize per group, ≥ minFilesCount files") {
    val files = (1 to 10).map(i => FileAdd(s"f$i", 10, 30))
    val snap = Snapshot("t", 1, None, files)
    val cfg = LakeTable.CompactionConfig(minFileSize = 100, maxFileSize = 100,
      minFilesCount = 3)
    val groups = LakeTable.planCompaction(snap, cfg)
    assert(groups.nonEmpty)
    assert(groups.forall(g => g.map(_.size).sum <= 100 && g.size >= 3))
    // a group of 2 files under the min count is dropped
    val two = Snapshot("t", 1, None, Seq(FileAdd("a", 1, 30), FileAdd("b", 1, 30)))
    assert(LakeTable.planCompaction(two, cfg).isEmpty)
  }

  test("file pruning skips files whose stats exclude the predicate") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    // three files with disjoint id ranges
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    LakeTable.insert(spark, log, "t", sampleDf(101 to 200, "b"))
    LakeTable.insert(spark, log, "t", sampleDf(201 to 300, "c"))
    val snap = log.snapshot("t")
    val st = LakeTable.toStructType(snap.schema.get)
    def kept(p: String) = LakeTable.candidateFiles(spark, snap,
      QueryEngine.parsePredicate(p))
    assert(kept("id > 250").size == 1)
    assert(kept("id <= 100").size == 1)
    assert(kept("id = 150").size == 1)
    assert(kept("id > 300").isEmpty)
    assert(kept("category = 'b'").size == 1)
    assert(kept("id != 5").size == 3)
    // a rich predicate prunes like a read filtered by it
    assert(kept("id > 1 AND id < 5").size == 1)
    // and the pruned read returns exactly the filtered rows
    def read(p: String) = LakeTable.readIndexed(spark, log, "t")
      .filter(QueryEngine.parsePredicate(p))
    val df = read("id > 250")
    assert(df.count() == 50)
    assert(df.rdd.getNumPartitions <= 2) // only one file scanned
    val empty = read("id > 300")
    assert(empty.count() == 0 && empty.schema == st)
    // an unknown column fails the op, as its read of the predicate does
    intercept[org.apache.spark.sql.AnalysisException](
      LakeTable.deleteWhere(spark, log, "t", "nope > 1"))
    assert(log.latestVersion("t") == snap.version)
  }

  test("clusterBy insert co-locates keys and tightens per-file stats") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    val df = sampleDf(1 to 1000, "x")
      .withColumn("category", concat(lit("cat"), col("id") % 4))
    LakeTable.insert(spark, log, "t", df, numFiles = 4,
      clusterBy = Seq("category"))
    val snap = log.snapshot("t")
    assert(snap.files.map(_.rows).sum == 1000)
    // every category lives in exactly one file (hash co-location)
    val catFiles = LakeTable.read(spark, log, "t")
      .select(col("category"), input_file_name().as("f")).distinct()
      .groupBy("category").count().collect()
    assert(catFiles.forall(_.getLong(1) == 1))
    // shuffle row conservation (reference parquet_writer.rs partitioning test)
    assert(LakeTable.read(spark, log, "t").count() == 1000)
  }

  test("insertJson: inline rows committed for real (reference stubs this)") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    val r = LakeTable.insertJson(spark, log, "t", Seq(
      """{"id": 1, "category": "a", "price": 1.5}""",
      """{"id": 2, "category": "b", "price": 2.5}"""))
    assert(r.version == 1)
    val rows = LakeTable.read(spark, log, "t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, "a", 1.5), (2L, "b", 2.5)))
    // malformed rows fail the transaction instead of silently succeeding
    assertThrows[Exception](LakeTable.insertJson(spark, log, "t",
      Seq("""{"id": "not-a-number"!!!""")))
    assert(log.latestVersion("t") == 1)
  }

  test("load: csv and json external files through the declared schema") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    val dir = tmpDir("ext")
    val csv = dir.resolve("data.csv")
    java.nio.file.Files.writeString(csv,
      "id,category,price\n1,a,1.5\n2,b,2.5\n")
    val json = dir.resolve("data.json")
    java.nio.file.Files.writeString(json,
      """{"id":3,"category":"c","price":3.5}""" + "\n" +
      """{"id":4,"category":"d","price":4.5}""" + "\n")
    LakeTable.load(spark, log, "t", csv.toString, "csv")
    LakeTable.load(spark, log, "t", json.toString, "json")
    val rows = LakeTable.read(spark, log, "t")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, "a", 1.5), (2L, "b", 2.5),
      (3L, "c", 3.5), (4L, "d", 4.5)))
    assertThrows[LakeValidationException](
      LakeTable.load(spark, log, "t", csv.toString, "xml"))
  }

  test("concurrent Spark inserts all land via OCC retry, no lost updates") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val results = (0 until 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[CommitResult] {
        def call(): CommitResult =
          LakeTable.insert(spark, log, "t",
            sampleDf(i * 100 + 1 to i * 100 + 100, s"w$i"),
            txnId = s"writer-$i",
            // retries may exceed the default 3 under 4-way contention
            maxAttempts = 10)
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
    val versions = results.map(_.get())
    assert(versions.forall(!_.duplicate))
    assert(versions.map(_.version).sorted == Seq(1L, 2L, 3L, 4L))
    assert(LakeTable.read(spark, log, "t").count() == 400)
    assert(LakeTable.read(spark, log, "t")
      .select("category").distinct().count() == 4)
  }

  test("schema evolution: add nullable column; old files read as null") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 10, "a"))
    val v1 = log.latestVersion("t")

    val evolved = TableSchema(log.snapshot("t").schema.get.fields :+
      Field("rating", "int32", nullable = true))
    assert(!log.evolveSchema("t", evolved, "evolve-1").duplicate)
    // idempotent under retry
    assert(log.evolveSchema("t", evolved, "evolve-1").duplicate)

    // new writes carry the new column; old files surface it as null
    LakeTable.insert(spark, log, "t",
      Seq((11L, "b", 1.5, 5)).toDF("id", "category", "price", "rating"))
    val df = LakeTable.read(spark, log, "t")
    assert(df.schema.fieldNames.contains("rating"))
    assert(df.filter(col("rating").isNull).count() == 10)
    assert(df.filter(col("rating") === 5).count() == 1)
    // time travel to v1 sees the old schema
    assert(!LakeTable.read(spark, log, "t", v1)
      .schema.fieldNames.contains("rating"))

    // invalid evolutions rejected
    assertThrows[LakeValidationException](log.evolveSchema("t",
      TableSchema(Seq(Field("id", "int64", nullable = false))), "evolve-2"))
    assertThrows[LakeValidationException](log.evolveSchema("t",
      TableSchema(evolved.fields.map(f =>
        if (f.name == "price") f.copy(`type` = "string") else f)), "evolve-3"))
    assertThrows[LakeValidationException](log.evolveSchema("t",
      TableSchema(evolved.fields :+ Field("req", "int64", nullable = false)),
      "evolve-4"))
  }

  test("schema evolution: int32/float32 widen losslessly, stats requoted") {
    val log = newLog()
    val narrow = StructType(Seq(
      StructField("id", LongType), StructField("n", IntegerType),
      StructField("x", FloatType)))
    LakeTable.createTable(log, "t2", narrow)
    LakeTable.insert(spark, log, "t2",
      Seq((1L, 7, 0.1f), (2L, 9, 0.3f)).toDF("id", "n", "x"))
    // pre-widening float pruning: stats quote the float's exact DOUBLE
    // (FooterStats), so a literal strictly between Float.toString's
    // decimal (0.3) and the promoted value (0.30000001192…) cannot
    // mis-prune — the row DOES match in Spark's double comparison domain
    assert(LakeTable.readIndexed(spark, log, "t2")
      .filter(QueryEngine.parsePredicate("x > 0.3000000")).count() == 1)
    val widened = TableSchema(Seq(Field("id", "int64"), Field("n", "int64"),
      Field("x", "float64")))
    assert(!log.evolveSchema("t2", widened, "widen-1").duplicate)
    // narrowing back is rejected
    assertThrows[LakeValidationException](log.evolveSchema("t2",
      TableSchema(Seq(Field("id", "int64"), Field("n", "int32"),
        Field("x", "float64"))), "narrow-1"))
    val df = LakeTable.read(spark, log, "t2")
    assert(df.schema("n").dataType == LongType)
    assert(df.schema("x").dataType == DoubleType)
    // old INT32/FLOAT pages upcast losslessly: the double IS the float's
    // exact value, not a re-parse of its decimal rendering
    val r1 = df.filter(col("id") === 1).head()
    assert(r1.getLong(1) == 7L && r1.getDouble(2) == 0.1f.toDouble)
    // time travel still reads the pre-evolution schema
    assert(LakeTable.read(spark, log, "t2", 1L)
      .schema("n").dataType == IntegerType)
    // the evolution entry restated the file with the float stat requoted
    // to the float's exact DOUBLE decimal (pruning-soundness invariant)
    val st = log.snapshot("t2").files.head.stats.get
    assert(BigDecimal(st.max_values("x")).toDouble == 0.3f.toDouble)
    assert(st.min_values("n") == "7") // int stats untouched
    // boundary predicate: 0.3f as a double is 0.30000001192… > 0.3, so the
    // row matches — a stale "0.3" max stat would have pruned the file
    assert(LakeTable.readIndexed(spark, log, "t2")
      .filter(QueryEngine.parsePredicate("x > 0.3")).count() == 1)
    // the restate is layout-only: the CDC feed delivers no rows for it
    assert(LakeTable.changesSince(spark, log, "t2", 1L).count() == 0)
    // the Catalyst-integrated read path (LakeFileIndex + HadoopFsRelation)
    // upcasts the same old INT32/FLOAT pages — and its stat pruning uses
    // the requoted bounds, so the boundary predicate keeps the file there
    // too
    val idx = LakeTable.readIndexed(spark, log, "t2")
    assert(idx.schema("x").dataType == DoubleType)
    assert(idx.filter(col("x") > 0.3).count() == 1)
    assert(idx.collect().map(_.getDouble(2)).sorted.toSeq ==
      Seq(0.1f.toDouble, 0.3f.toDouble))
  }

  test("schema evolution preserves CHECK constraints") {
    val log = newLog()
    LakeTable.createTable(log, "tc", schema,
      constraints = Map("p_nonneg" -> "price >= 0"))
    LakeTable.insert(spark, log, "tc", sampleDf(1 to 5, "a"))
    // evolving fields WITHOUT restating constraints inherits them…
    log.evolveSchema("tc", TableSchema(
      LakeTable.fromStructType(schema).fields :+
        Field("note", "string", nullable = true)), "tc-evo-1")
    assert(log.snapshot("tc").schema.get.checks ==
      Map("p_nonneg" -> "price >= 0"))
    // …so violations are still rejected after evolution
    assertThrows[LakeValidationException](LakeTable.insert(spark, log, "tc",
      Seq((9L, "bad", -1.0, "x")).toDF("id", "category", "price", "note")))
    // restating DIFFERENT constraints is refused (silently weakening
    // enforcement), an exact echo is accepted
    assertThrows[LakeValidationException](log.evolveSchema("tc",
      TableSchema(log.snapshot("tc").schema.get.fields,
        check_constraints = Some(Map("p_nonneg" -> "price >= -10"))),
      "tc-evo-2"))
    log.evolveSchema("tc", TableSchema(log.snapshot("tc").schema.get.fields,
      check_constraints = Some(Map("p_nonneg" -> "price >= 0"))), "tc-evo-3")
  }

  test("deleteWhere rewrites only stat-matching files; time travel intact") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    LakeTable.insert(spark, log, "t", sampleDf(101 to 200, "b"))
    LakeTable.insert(spark, log, "t", sampleDf(201 to 300, "c"))
    val preVersion = log.latestVersion("t")

    val r = LakeTable.deleteWhere(spark, log, "t", "id > 250")
    assert(r.filesRewritten == 1 && r.filesUntouched == 2 &&
      r.rowsDeleted == 50)
    assert(LakeTable.read(spark, log, "t").count() == 250)
    assert(LakeTable.read(spark, log, "t")
      .filter(col("id") > 250).count() == 0)
    // untouched files are literally the same paths
    val before = log.snapshot("t", preVersion).files.map(_.path).toSet
    val after = log.snapshot("t").files.map(_.path).toSet
    assert(after.intersect(before).size == 2)
    // pre-delete version still reads all 300 rows
    assert(LakeTable.read(spark, log, "t", preVersion).count() == 300)
    // no-op delete: stats prove nothing matches, zero rewrites
    val r2 = LakeTable.deleteWhere(spark, log, "t", "id > 9999")
    assert(r2.filesRewritten == 0 && r2.version == log.latestVersion("t"))
    // delete an entire file's rows: the file vanishes without replacement
    val r3 = LakeTable.deleteWhere(spark, log, "t", "id <= 100")
    assert(r3.rowsDeleted == 100)
    assert(LakeTable.read(spark, log, "t").count() == 150)
  }

  test("deleteWhere is idempotent under txn retry") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    val r1 = LakeTable.deleteWhere(spark, log, "t", "id > 50", txnId = "del-1")
    assert(r1.rowsDeleted == 50)
    val v = log.latestVersion("t")
    // replayed delete: no new version, no double delete
    val r2 = LakeTable.deleteWhere(spark, log, "t", "id > 50", txnId = "del-1")
    assert(r2.rowsDeleted == 0 && log.latestVersion("t") == v)
    assert(LakeTable.read(spark, log, "t").count() == 50)
  }

  test("upsert replaces matching keys and appends new ones atomically") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    LakeTable.insert(spark, log, "t", sampleDf(101 to 200, "b"))
    val preVersion = log.latestVersion("t")

    val updates = Seq((50L, "updated", 999.0), (150L, "updated", 888.0),
      (500L, "new", 777.0)).toDF("id", "category", "price")
    val r = LakeTable.upsert(spark, log, "t", updates, "id")
    assert(!r.duplicate && r.version == preVersion + 1)
    val df = LakeTable.read(spark, log, "t")
    assert(df.count() == 201) // 200 + 1 new key
    assert(df.filter(col("id") === 50L).select("price")
      .as[Double].head() == 999.0)
    assert(df.filter(col("id") === 500L).count() == 1)
    assert(df.filter(col("category") === "updated").count() == 2)
    // idempotent retry
    assert(LakeTable.upsert(spark, log, "t", updates, "id",
      txnId = "up-1").duplicate == false)
    assert(LakeTable.upsert(spark, log, "t", updates, "id",
      txnId = "up-1").duplicate)
    // time travel to pre-upsert
    assert(LakeTable.read(spark, log, "t", preVersion)
      .filter(col("id") === 50L).select("price").as[Double].head() == 50 * 1.5)
  }

  test("changesSince reads only the delta; rewrites are not logical inserts") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))     // v1
    LakeTable.insert(spark, log, "t", sampleDf(101 to 200, "b"))   // v2
    LakeTable.insert(spark, log, "t", sampleDf(201 to 300, "c"))   // v3
    assert(LakeTable.changesSince(spark, log, "t", 1).count() == 200)
    assert(LakeTable.changesSince(spark, log, "t", 1, 2)
      .select(min("id"), max("id")).collect().head.toSeq == Seq(101L, 200L))
    assert(LakeTable.changesSince(spark, log, "t", 3).count() == 0)
    // compaction rewrites files but adds no logical rows
    LakeTable.compact(spark, log, "t", force = true)               // v4
    assert(LakeTable.changesSince(spark, log, "t", 3).count() == 0)
    LakeTable.insert(spark, log, "t", sampleDf(301 to 310, "d"))   // v5
    assert(LakeTable.changesSince(spark, log, "t", 3).count() == 10)
  }

  test("deleteWhere keeps rows where the predicate is NULL (SQL semantics)") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    // price NULL on every 10th row — DELETE WHERE price > 100 must keep them
    val df = (1 to 100).map(i =>
      (i.toLong, "a", if (i % 10 == 0) null else java.lang.Double.valueOf(i * 2.0)))
      .toDF("id", "category", "price")
    LakeTable.insert(spark, log, "t", df)
    val r = LakeTable.deleteWhere(spark, log, "t", "price > 100")
    // deleted: price in (102..200) non-null → ids 51..100 minus nulls (60,70,80,90,100)
    assert(r.rowsDeleted == 45)
    val back = LakeTable.read(spark, log, "t")
    assert(back.count() == 55)
    assert(back.filter(col("price").isNull).count() == 10) // all NULLs survive
  }

  test("changesSince sees upsert's new rows but not its rewritten survivors") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))     // v1
    val updates = Seq((50L, "upd", 999.0), (500L, "new", 777.0))
      .toDF("id", "category", "price")
    LakeTable.upsert(spark, log, "t", updates, "id")               // v2
    val feed = LakeTable.changesSince(spark, log, "t", 1)
    // exactly the two upserted rows — not the 99 rewritten survivors
    assert(feed.count() == 2)
    assert(feed.select("id").as[Long].collect().sorted.toSeq == Seq(50L, 500L))
    // delete rewrite adds are layout-only too
    LakeTable.deleteWhere(spark, log, "t", "id <= 10")             // v3
    assert(LakeTable.changesSince(spark, log, "t", 2).count() == 0)
  }

  test("restore rewinds the live file set in one metadata commit") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))      // v1
    LakeTable.insert(spark, log, "t", sampleDf(101 to 200, "b"))    // v2
    LakeTable.deleteWhere(spark, log, "t", "id <= 50")              // v3
    assert(LakeTable.read(spark, log, "t").count() == 150)

    val r = LakeTable.restore(log, "t", 2)                          // v4
    assert(r.version == 4)
    assert(LakeTable.read(spark, log, "t").count() == 200)
    // restore is itself undoable: rewind past it back to the deleted state
    LakeTable.restore(log, "t", 3)                                  // v5
    assert(LakeTable.read(spark, log, "t").count() == 150)
    // restored adds are layout-only for CDC: no replayed rows
    assert(LakeTable.changesSince(spark, log, "t", 3).count() == 0)
    // restoring to a vacuumed version fails loudly
    LakeTable.restore(log, "t", 2)                                  // v6
    LakeTable.deleteWhere(spark, log, "t", "id <= 50")              // v7
    LakeTable.vacuum(log, "t", retainVersions = 1)
    intercept[LakeValidationException] {
      LakeTable.restore(log, "t", 6)
    }
  }

  test("history and describe expose the commit log") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"), txnId = "tx-a")
    LakeTable.insert(spark, log, "t", sampleDf(101 to 150, "b"), txnId = "tx-b")
    val h = LakeTable.history(spark, log, "t").orderBy("version").collect()
    assert(h.length == 3) // create + 2 inserts
    assert(h(0).getBoolean(3)) // version 0 carries the schema
    assert(h(1).getAs[String]("txn_id") == "tx-a" &&
      h(1).getAs[Long]("rows_added") == 100)
    assert(h(2).getAs[Long]("rows_added") == 50)
    val info = LakeTable.describe(log, "t")
    assert(info.version == 2 && info.nFiles == 2 && info.rows == 150)
    assert(info.fields == Seq("id:int64", "category:string", "price:float64"))
  }

  test("vacuum deletes only files unreachable from retained versions") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    LakeTable.insert(spark, log, "t", sampleDf(101 to 200, "b"))
    LakeTable.insert(spark, log, "t", sampleDf(201 to 300, "c"))
    val preFiles = log.snapshot("t").files.map(_.path)
    LakeTable.compact(spark, log, "t", force = true) // v4: 3 removed, 1 added

    // retaining 2 versions (v3 + v4): v3 still needs the 3 pre-compaction
    // files — nothing deletable
    val r2 = LakeTable.vacuum(log, "t", retainVersions = 2)
    assert(r2.deleted == 0)
    assert(preFiles.forall(p => java.nio.file.Files.exists(
      java.nio.file.Paths.get(p))))

    // retaining only the latest: the 3 compacted-away inputs are garbage
    val r1 = LakeTable.vacuum(log, "t", retainVersions = 1)
    assert(r1.deleted == 3)
    assert(preFiles.forall(p => !java.nio.file.Files.exists(
      java.nio.file.Paths.get(p))))
    // current snapshot still fully readable
    assert(LakeTable.read(spark, log, "t").count() == 300)

    // crash-orphaned staging dirs: swept once older than tmpRetainMs,
    // fresh ones (a concurrent in-flight write) left alone
    val tmpRoot = log.tableDir("t").resolve("_tmp")
    val stale = java.nio.file.Files.createDirectories(
      tmpRoot.resolve("txn-dead-beef"))
    java.nio.file.Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600_000))
    val fresh = java.nio.file.Files.createDirectories(
      tmpRoot.resolve("txn-live-cafe"))
    LakeTable.vacuum(log, "t", retainVersions = 1, tmpRetainMs = 60_000)
    assert(!java.nio.file.Files.exists(stale))
    assert(java.nio.file.Files.exists(fresh))
  }

  test("Property 1: random-schema insert→read round-trip preserves data") {
    // reference: worker/src/parquet_format_property_test.rs — arbitrary
    // schemas of int64/string/float64 fields, 1-100 rows, write→read→equal
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val nFields = 1 + rnd.nextInt(5)
      val types = Array(LongType, StringType, DoubleType)
      val fields = StructField("pk", LongType, nullable = false) +:
        (0 until nFields).map(i =>
          StructField(s"c$i", types(rnd.nextInt(3)), nullable = true))
      val st = StructType(fields)
      val nRows = 1 + rnd.nextInt(100)
      val rows = (0 until nRows).map { r =>
        org.apache.spark.sql.Row.fromSeq(r.toLong +: fields.tail.map(_.dataType match {
          case LongType => rnd.nextLong(1000000)
          case StringType => s"s${rnd.nextInt(1000)}"
          case DoubleType => math.round(rnd.nextDouble() * 1e6) / 1e3
        }))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq), st)
      val log = newLog()
      LakeTable.createTable(log, "rt", st)
      LakeTable.insert(spark, log, "rt", df)
      val back = LakeTable.read(spark, log, "rt")
      // Spark relaxes nullability on file-source reads — compare name/type
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        st.fields.map(f => (f.name, f.dataType)).toSeq)
      assert(back.orderBy("pk").collect().toSeq ==
        df.orderBy("pk").collect().toSeq)
    }
  }

  test("Property 8: same snapshot version ⇒ identical file list, always") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 50, "a"))
    val pinned = log.snapshot("t", 1).files
    // concurrent-ish activity: more inserts + compaction
    LakeTable.insert(spark, log, "t", sampleDf(51 to 100, "b"))
    LakeTable.compact(spark, log, "t", force = true)
    (1 to 3).foreach { _ =>
      assert(log.snapshot("t", 1).files == pinned)
    }
    // and a fresh replayer agrees
    assert(new LakeLog(log.root).snapshot("t", 1).files == pinned)
  }

  test("zOrderBy insert: pruning works on BOTH curve columns") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f }
        .map(_.metrics("numFiles").value).sum
    }
    val rnd = new scala.util.Random(23)
    val data = (1 to 20000).map(_ =>
      (rnd.nextInt(10000).toLong, s"c${rnd.nextInt(3)}",
        rnd.nextInt(10000) / 10.0)).toDF("id", "category", "price")

    // z-ordered on (id, price): slices on EITHER column prune
    val zlog = newLog()
    LakeTable.createTable(zlog, "z", schema)
    LakeTable.insert(spark, zlog, "z", data, numFiles = 16,
      zOrderBy = Seq("id", "price"))
    assert(zlog.snapshot("z").files.size == 16)
    val z = LakeTable.readIndexed(spark, zlog, "z")
    val zById = scannedFiles(z.filter(col("id") >= 1000 && col("id") < 2000))
    val zByPrice = scannedFiles(
      z.filter(col("price") >= 100.0 && col("price") < 200.0))
    assert(zById <= 8, s"id-slice scanned $zById of 16")
    assert(zByPrice <= 8, s"price-slice scanned $zByPrice of 16")

    // baseline: round-robin files have full-range stats on both columns
    val plog = newLog()
    LakeTable.createTable(plog, "p", schema)
    LakeTable.insert(spark, plog, "p", data, numFiles = 16)
    val p = LakeTable.readIndexed(spark, plog, "p")
    assert(scannedFiles(
      p.filter(col("id") >= 1000 && col("id") < 2000)) == 16)

    // correctness unchanged
    assert(z.count() == 20000)
    assert(z.filter(col("id") >= 1000 && col("id") < 2000).count() ==
      p.filter(col("id") >= 1000 && col("id") < 2000).count())
  }

  test("readIndexed: Catalyst filters prune files via LakeFileIndex stats") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val log = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t", sampleDf(1 to 100, "a"))
    LakeTable.insert(spark, log, "t", sampleDf(101 to 200, "b"))
    LakeTable.insert(spark, log, "t", sampleDf(201 to 300, "c"))

    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // execute to populate metrics
      val scans = df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f }
      scans.map(_.metrics("numFiles").value).sum
    }

    val base = LakeTable.readIndexed(spark, log, "t")
    assert(base.count() == 300)
    // arbitrary Spark predicates — not the 3-token grammar — prune files
    assert(scannedFiles(base.filter(col("id") > 250)) == 1)
    assert(scannedFiles(base.filter(col("id") >= 101 && col("id") < 150)) == 1)
    assert(scannedFiles(base.filter(col("category") === "b")) == 1)
    assert(scannedFiles(base.filter(col("id") < 50 || col("id") > 280)) == 2)
    assert(scannedFiles(base.filter(col("id").isin(5, 150))) == 2)
    assert(scannedFiles(base.filter(col("id") > 1000)) == 0)
    // correctness: pruned reads return exactly the filtered rows
    assert(base.filter(col("id") > 250).count() == 50)
    assert(base.filter(col("id") < 50 || col("id") > 280).count() == 69)
    // unsupported predicate shapes scan everything but stay correct
    assert(base.filter(col("id") % 7 === 0).count() == 42)
  }

  test("schema codec round-trips all eight declared types") {
    val st = StructType(Seq(
      StructField("a", IntegerType), StructField("b", LongType),
      StructField("c", FloatType), StructField("d", DoubleType),
      StructField("e", StringType), StructField("f", BooleanType),
      StructField("g", DateType), StructField("h", TimestampType)))
    assert(LakeTable.toStructType(LakeTable.fromStructType(st)) == st)
    // array types round-trip too (float arrays for embeddings,
    // int64_array for sketch-node rows)
    val arrays = StructType(Seq(
      StructField("x", ArrayType(FloatType)),
      StructField("y", ArrayType(DoubleType)),
      StructField("z", ArrayType(LongType))))
    assert(LakeTable.toStructType(LakeTable.fromStructType(arrays))
      == arrays)
    assertThrows[LakeValidationException](
      LakeTable.fromStructType(StructType(Seq(
        StructField("bad", ArrayType(StringType))))))
  }

  test("vector columns: write/read round-trip, stats skipped, not partitionable") {
    val log = newLog()
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("emb", ArrayType(DoubleType))))
    LakeTable.createTable(log, "vec", st)
    val df = Seq((1L, Array(0.5, -1.5)), (2L, Array(2.0, 3.0)))
      .toDF("id", "emb")
    LakeTable.insert(spark, log, "vec", df)
    val back = LakeTable.read(spark, log, "vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(back == Map(1L -> Seq(0.5, -1.5), 2L -> Seq(2.0, 3.0)))
    // scalar columns keep real stats; the vector column carries none
    val stats = log.snapshot("vec").files.head.stats.get
    assert(stats.min_values.contains("id"))
    assert(!stats.min_values.contains("emb") &&
      !stats.max_values.contains("emb"))
    // an array column can never partition a table
    assertThrows[LakeValidationException](
      LakeTable.createTable(log, "vecp", st, partitionBy = Seq("emb")))
  }

  test("insertAll: concurrent staging, loop-identical sequential history") {
    val log = newLog()
    val ref = newLog()
    LakeTable.createTable(log, "t", schema)
    LakeTable.createTable(ref, "t", schema)
    val slices = (0 to 2).map(m =>
      (sampleDf(1 to 300, "x").filter(col("id") % 3 === m), s"slice-$m"))
    val rs = LakeTable.insertAll(spark, log, "t", slices, numFiles = 2)
    val loop = slices.map { case (df, txn) =>
      LakeTable.insert(spark, ref, "t", df, txn, numFiles = 2) }
    // same version sequence, txn mapping and duplicate flags as the loop
    assert(rs == loop)
    assert(log.latestVersion("t") == 3)
    (0 to 2).foreach(m =>
      assert(log.committedVersion("t", s"slice-$m").contains(m + 1L)))
    // every VERSION's contents (time travel) match the sequential loop
    (1L to 3L).foreach { v =>
      val got = LakeTable.read(spark, log, "t", v)
        .orderBy("id").collect().toSeq
      val want = LakeTable.read(spark, ref, "t", v)
        .orderBy("id").collect().toSeq
      assert(got == want, s"version $v diverged from sequential loop")
    }
    // replayed txn ids dedup without re-staging (duplicate commits)
    val replay = LakeTable.insertAll(spark, log, "t", slices, numFiles = 2)
    assert(replay.forall(_.duplicate) &&
      replay.map(_.version) == Seq(1L, 2L, 3L))
    assert(log.latestVersion("t") == 3)
    // no stray files: every data file on disk is referenced by the log
    val live = log.snapshot("t").files.map(_.path).toSet
    val onDisk = java.nio.file.Files.walk(log.dataDir("t"))
      .filter(java.nio.file.Files.isRegularFile(_))
      .map[String](_.toString).toArray.map(_.toString).toSet
    assert(onDisk == live)
  }

  test("insertAll: staging failure discards every staged file") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema,
      constraints = Map("pos" -> "price >= 0"))
    val bad = sampleDf(1 to 10, "a")
      .withColumn("price", col("price") * -1)
    assertThrows[LakeValidationException](
      LakeTable.insertAll(spark, log, "t", Seq(
        (sampleDf(1 to 10, "a"), "ok-slice"), (bad, "bad-slice"))))
    // nothing committed, nothing promoted, nothing staged left behind
    assert(log.latestVersion("t") == 0)
    val dd = log.dataDir("t")
    val stray = if (java.nio.file.Files.exists(dd))
      java.nio.file.Files.walk(dd)
        .filter(java.nio.file.Files.isRegularFile(_)).count() else 0L
    assert(stray == 0)
  }
}
