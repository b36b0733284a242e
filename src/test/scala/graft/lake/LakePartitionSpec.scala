package graft.lake

import graft.SparkSpec
import graft.operators.QueryEngine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Hive-style partitioned lake tables: partition values live only in the
  * transaction log (data files are flat), reads reconstruct the columns,
  * and both pruning paths (3-token stats + Catalyst partitionFilters) skip
  * partitions without touching data.
  */
class LakePartitionSpec extends SparkSpec {
  import spark.implicits._

  private def newLog() = new LakeLog(tmpDir("lakepart"))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("region", StringType),
    StructField("day", DateType),
    StructField("price", DoubleType)))

  private def sample(ids: Range, region: String, day: String) =
    ids.map(i => (i.toLong, region, java.sql.Date.valueOf(day), i * 1.5))
      .toDF("id", "region", "day", "price")

  test("insert/read round-trip: partition values only in the log") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema, partitionBy = Seq("region", "day"))
    LakeTable.insert(spark, log, "t",
      sample(1 to 50, "eu", "2024-01-01")
        .unionAll(sample(51 to 80, "us", "2024-01-01"))
        .unionAll(sample(81 to 90, "us", "2024-01-02")))

    val snap = log.snapshot("t")
    assert(snap.files.size == 3) // one flat file per partition value vector
    val parts = snap.files.map(_.partition).toSet
    assert(parts == Set(
      Map("region" -> "eu", "day" -> "2024-01-01"),
      Map("region" -> "us", "day" -> "2024-01-01"),
      Map("region" -> "us", "day" -> "2024-01-02")))
    // data files are flat (no hive dirs) and do NOT contain partition cols
    assert(snap.files.forall(f => !f.path.contains("=")))
    val raw = spark.read.parquet(snap.files.head.path)
    assert(raw.columns.toSeq == Seq("id", "price"))
    // partition columns carry synthesized min=max stats
    val us2 = snap.files.find(_.partition("day") == "2024-01-02").get
    assert(us2.stats.get.min_values("region") == "us")
    assert(us2.stats.get.max_values("day") == "2024-01-02")
    assert(us2.stats.get.min_values("id") == "81")

    // full reconstruction, declared column order, typed partition cols
    val back = LakeTable.read(spark, log, "t")
    assert(back.columns.toSeq == Seq("id", "region", "day", "price"))
    assert(back.schema("day").dataType == DateType)
    assert(back.count() == 90)
    assert(back.filter(col("region") === "us" &&
      col("day") === lit("2024-01-02").cast("date")).count() == 10)
    assert(back.agg(sum("id")).as[Long].head() == (1L to 90L).sum)
  }

  test("readIndexed prunes whole partitions via Catalyst partitionFilters") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val log = newLog()
    LakeTable.createTable(log, "t", schema, partitionBy = Seq("region"))
    LakeTable.insert(spark, log, "t", sample(1 to 100, "eu", "2024-01-01"))
    LakeTable.insert(spark, log, "t", sample(101 to 200, "us", "2024-01-01"))
    LakeTable.insert(spark, log, "t", sample(201 to 300, "ap", "2024-01-01"))

    def scan(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f }.head
    }

    val base = LakeTable.readIndexed(spark, log, "t")
    assert(base.columns.toSeq == Seq("id", "region", "day", "price"))
    assert(base.count() == 300)

    val pruned = scan(base.filter(col("region") === "us"))
    assert(pruned.metrics("numFiles").value == 1)
    // the filter landed as a partition filter, not a data filter
    assert(pruned.partitionFilters.nonEmpty)
    assert(base.filter(col("region") === "us").count() == 100)
    // partition + data filters compose
    assert(scan(base.filter(col("region") =!= "ap" && col("id") > 150))
      .metrics("numFiles").value == 1)
    // IN-list over partitions
    assert(scan(base.filter(col("region").isin("eu", "ap")))
      .metrics("numFiles").value == 2)
  }

  test("3-token predicates prune on partition values through synthesized stats") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema, partitionBy = Seq("region"))
    LakeTable.insert(spark, log, "t", sample(1 to 10, "eu", "2024-01-01"))
    LakeTable.insert(spark, log, "t", sample(11 to 20, "us", "2024-01-01"))
    val snap = log.snapshot("t")
    assert(LakeTable.candidateFiles(spark, snap,
      QueryEngine.parsePredicate("region = eu")).size == 1)
    assert(LakeTable.readIndexed(spark, log, "t")
      .filter(QueryEngine.parsePredicate("region = us"))
      .select("id").as[Long].collect().sorted.toSeq == (11L to 20L))
  }

  test("deleteWhere on partition and data predicates; upsert; compact") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema, partitionBy = Seq("region"))
    LakeTable.insert(spark, log, "t", sample(1 to 100, "eu", "2024-01-01"))
    LakeTable.insert(spark, log, "t", sample(101 to 200, "us", "2024-01-01"))

    // partition-predicate delete drops the whole partition's rows
    val r1 = LakeTable.deleteWhere(spark, log, "t", "region = eu")
    assert(r1.rowsDeleted == 100 && r1.filesUntouched == 1)
    assert(LakeTable.read(spark, log, "t").count() == 100)

    // data-predicate delete rewrites within partitions, values survive
    val r2 = LakeTable.deleteWhere(spark, log, "t", "id > 150")
    assert(r2.rowsDeleted == 50)
    val after = LakeTable.read(spark, log, "t")
    assert(after.count() == 50)
    assert(after.select("region").distinct().as[String].collect().toSeq ==
      Seq("us"))

    // upsert: update one row, insert a new-partition row
    val ups = Seq(
      (101L, "us", java.sql.Date.valueOf("2024-01-01"), 999.0),
      (501L, "ap", java.sql.Date.valueOf("2024-01-05"), 5.0))
      .toDF("id", "region", "day", "price")
    LakeTable.upsert(spark, log, "t", ups, "id")
    val up = LakeTable.read(spark, log, "t")
    assert(up.count() == 51)
    assert(up.filter(col("id") === 101).select("price").as[Double].head() == 999.0)
    assert(up.filter(col("region") === "ap").count() == 1)

    // compaction groups never cross partitions
    (1 to 3).foreach(i =>
      LakeTable.insert(spark, log, "t", sample(600 + i to 600 + i, "eu", "2024-02-01")))
    LakeTable.compact(spark, log, "t", force = true)
    val snap = log.snapshot("t")
    snap.files.foreach { f =>
      val rows = spark.read.schema(
        StructType(Seq(StructField("id", LongType), StructField("price", DoubleType))))
        .parquet(f.path)
      assert(rows.count() == f.rows)
    }
    // every eu-partition row still tagged eu after compaction
    val back = LakeTable.read(spark, log, "t")
    assert(back.filter(col("region") === "eu").select("id").as[Long]
      .collect().sorted.toSeq == Seq(601L, 602L, 603L))
    assert(back.count() == 54)
  }

  test("changesSince reconstructs partition columns") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema, partitionBy = Seq("region"))
    LakeTable.insert(spark, log, "t", sample(1 to 10, "eu", "2024-01-01")) // v1
    LakeTable.insert(spark, log, "t", sample(11 to 15, "us", "2024-01-01")) // v2
    val feed = LakeTable.changesSince(spark, log, "t", 1)
    assert(feed.columns.toSeq == Seq("id", "region", "day", "price"))
    assert(feed.select("region").distinct().as[String].collect().toSeq ==
      Seq("us"))
    assert(feed.count() == 5)
  }

  test("partition values with path-hostile characters round-trip") {
    val log = newLog()
    LakeTable.createTable(log, "t", schema, partitionBy = Seq("region"))
    val tricky = Seq("a/b", "a=b", "a b", "a:b%7")
    LakeTable.insert(spark, log, "t",
      tricky.zipWithIndex.map { case (r, i) =>
        (i.toLong, r, java.sql.Date.valueOf("2024-01-01"), 1.0) }
        .toDF("id", "region", "day", "price"))
    val back = LakeTable.read(spark, log, "t")
    assert(back.select("region").as[String].collect().toSet == tricky.toSet)
    assert(log.snapshot("t").files.map(_.partition("region")).toSet ==
      tricky.toSet)
  }

  test("SQL and structured-query APIs prune partitions end-to-end") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val log = newLog()
    LakeTable.createTable(log, "sales", schema, partitionBy = Seq("region"))
    LakeTable.insert(spark, log, "sales", sample(1 to 100, "eu", "2024-01-01"))
    LakeTable.insert(spark, log, "sales", sample(101 to 200, "us", "2024-01-01"))

    val sql = graft.api.SqlApi.queryLake(spark, log,
      "SELECT region, count(*) AS n, sum(price) AS total FROM sales " +
        "WHERE region = 'us' GROUP BY region")
    val rows = sql.collect()
    assert(rows.length == 1 && rows.head.getLong(1) == 100)
    // AQE hides executed stages from plain collect — recurse through
    // adaptive plans and materialized query stages to reach the scan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(sql.queryExecution.executedPlan).head
    assert(scan.metrics("numFiles").value == 1) // eu partition never read

    val api = graft.api.QueryApi.runLake(spark, log,
      """{"table_name": "sales", "filter": "region = eu",
         "group_by": ["region"],
         "aggregates": [{"function": "count", "column": "id"}]}""")
    assert(api.collect().head.getLong(1) == 100)
  }

  test("validation: partition rules enforced") {
    val log = newLog()
    // float partition column
    intercept[LakeValidationException] {
      LakeTable.createTable(log, "bad1", schema, partitionBy = Seq("price"))
    }
    // unknown column
    intercept[LakeValidationException] {
      LakeTable.createTable(log, "bad2", schema, partitionBy = Seq("nope"))
    }
    // every column partitioned
    intercept[LakeValidationException] {
      LakeTable.createTable(log, "bad3",
        StructType(Seq(StructField("a", StringType))), partitionBy = Seq("a"))
    }
    // null partition value rejected at insert
    LakeTable.createTable(log, "t", schema, partitionBy = Seq("region"))
    intercept[LakeValidationException] {
      LakeTable.insert(spark, log, "t",
        Seq((1L, null.asInstanceOf[String],
          java.sql.Date.valueOf("2024-01-01"), 1.0))
          .toDF("id", "region", "day", "price"))
    }
    // schema evolution cannot change partition columns
    intercept[LakeValidationException] {
      log.evolveSchema("t", LakeTable.fromStructType(
        schema.add(StructField("extra", StringType))), "evo1")
    }
    // ... but CAN add fields when partition columns are preserved
    val evolved = LakeTable.fromStructType(
      schema.add(StructField("extra", StringType)))
      .copy(partition_columns = Some(Seq("region")))
    log.evolveSchema("t", evolved, "evo2")
    assert(log.snapshot("t").schema.get.partCols == Seq("region"))
  }

  test("pre-partition-column log entries deserialize with no partitions") {
    // TableSchema JSON without partition_columns (older logs) → partCols Nil
    val log = newLog()
    LakeTable.createTable(log, "t", StructType(Seq(
      StructField("a", LongType), StructField("b", StringType))))
    assert(log.snapshot("t").schema.get.partCols.isEmpty)
  }
}
