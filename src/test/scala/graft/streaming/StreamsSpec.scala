package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  test("hourlyAggregates: windowed counts with watermark, incremental batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Long, String, Double)]
    val events = input.toDF()
      .toDF("ts", "event_id", "user_id", "event_type", "value")
    val query = Streams.hourlyAggregates(events, lateness = "10 minutes")
      .writeStream.format("memory").queryName("hourly")
      .outputMode("append").start()
    try {
      // first hour of events, then events two hours later → first window closes
      input.addData((ts(0), 1L, 1L, "click", 1.0), (ts(30), 2L, 1L, "click", 2.0),
        (ts(10), 3L, 2L, "view", 5.0))
      query.processAllAvailable()
      input.addData((ts(180), 9L, 1L, "click", 1.0))
      query.processAllAvailable()
      val out = spark.table("hourly").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
      // the first window (hour 0) is finalized: click n=2 sum=3, view n=1 sum=5
      assert(out.contains(("click", 2L, 3.0)))
      assert(out.contains(("view", 1L, 5.0)))
    } finally query.stop()
  }

  test("sessionize: gap-based sessions close via flatMapGroupsWithState") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val sessions = Streams.sessionize(input.toDS(), gapMs = 10 * 60000L,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
    val query = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then 30 min gap → new
      input.addData(
        Streams.Event(ts(0), 1L, 1L, "click", 1.0),
        Streams.Event(ts(5), 2L, 1L, "click", 2.0))
      query.processAllAvailable()
      input.addData(Streams.Event(ts(35), 3L, 1L, "click", 4.0))
      query.processAllAvailable()
      val out = spark.table("sessions").as[Streams.Session].collect()
      // the first session (2 events, value 3.0) must have closed
      assert(out.exists(s => s.user_id == 1L && s.n_events == 2 &&
        s.total_value == 3.0))
    } finally query.stop()
  }

  test("eventsFileStream: parquet files dropped into a dir become batches") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("filestream")
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    def writeFile(rows: Seq[(Timestamp, String, Double)], name: String): Unit =
      rows.toDF("ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(dir.toString)
    val stream = Streams.eventsFileStream(spark, dir.toString, schema)
    assert(stream.isStreaming)
    val query = Streams.hourlyAggregates(stream, lateness = "5 minutes")
      .writeStream.format("memory").queryName("file_hourly")
      .outputMode("append").start()
    try {
      writeFile(Seq((ts(0), "click", 1.0), (ts(10), "click", 2.0)), "f1")
      query.processAllAvailable()
      writeFile(Seq((ts(200), "view", 5.0)), "f2") // advances the watermark
      query.processAllAvailable()
      val out = spark.table("file_hourly").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(out.contains(("click", 2L, 3.0)))
    } finally query.stop()
  }

  test("sinkToLake: exactly-once micro-batch commits via txn idempotency") {
    import graft.lake.{LakeLog, LakeTable}
    import org.apache.spark.sql.types._
    implicit val sq = spark.sqlContext
    val log = new LakeLog(tmpDir("streamlake"))
    LakeTable.createTable(log, "ev", StructType(Seq(
      StructField("event_id", LongType), StructField("value", DoubleType))))
    val input = MemoryStream[(Long, Double)]
    val ckpt = tmpDir("ckpt").toString
    val appId = java.util.UUID.nameUUIDFromBytes(
      java.nio.file.Paths.get(ckpt).toAbsolutePath.normalize
        .toString.getBytes("UTF-8")).toString.take(8)
    val query = Streams.sinkToLake(
      input.toDF().toDF("event_id", "value"), log, "ev", ckpt)
    try {
      input.addData((1L, 1.0), (2L, 2.0))
      query.processAllAvailable()
      input.addData((3L, 3.0))
      query.processAllAvailable()
      assert(LakeTable.read(spark, log, "ev").count() == 3)
      assert(log.latestVersion("ev") == 2)
      // simulate engine redelivery of batch 0: idempotent no-op
      val replay = LakeTable.insert(spark, log, "ev",
        Seq((1L, 1.0), (2L, 2.0)).toDF("event_id", "value"),
        txnId = s"stream-$appId-0")
      assert(replay.duplicate && replay.version == 1)
      assert(LakeTable.read(spark, log, "ev").count() == 3)
    } finally query.stop()
    // a SECOND query (fresh checkpoint → batchId restarts at 0) writing the
    // same table must not collide with the first query's batch 0
    val input2 = MemoryStream[(Long, Double)]
    val query2 = Streams.sinkToLake(
      input2.toDF().toDF("event_id", "value"), log, "ev",
      tmpDir("ckpt2").toString)
    try {
      input2.addData((4L, 4.0))
      query2.processAllAvailable()
      assert(LakeTable.read(spark, log, "ev").count() == 4)
    } finally query2.stop()
  }

  test("wapSinkToLake: failing batches abort unseen, passing ones publish") {
    import graft.lake.{LakeLog, LakeTable, Wap}
    import org.apache.spark.sql.types._
    implicit val sq = spark.sqlContext
    val log = new LakeLog(tmpDir("wapstream"))
    LakeTable.createTable(log, "ev", StructType(Seq(
      StructField("event_id", LongType), StructField("value", DoubleType))))
    val input = MemoryStream[(Long, Double)]
    var audits = 0
    val query = Streams.wapSinkToLake(
      input.toDF().toDF("event_id", "value"), log, "ev",
      tmpDir("wapckpt").toString) { (batch, overlay) =>
      audits += 1
      // gate: reject any batch carrying a negative value; the overlay
      // face must see base + staged
      assert(overlay.count() >= batch.count())
      batch.filter(col("value") < 0).limit(1).count() == 0L
    }
    try {
      input.addData((1L, 1.0), (2L, 2.0)) // passes → v1
      query.processAllAvailable()
      input.addData((3L, -3.0))           // REJECTED → aborted
      query.processAllAvailable()
      input.addData((4L, 4.0))            // passes → v2
      query.processAllAvailable()
      assert(audits == 3)
      assert(log.latestVersion("ev") == 2,
        "the rejected batch must mint NO version")
      val ids = LakeTable.read(spark, log, "ev").select("event_id")
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 4L))
      assert(Wap.listStaged(log, "ev").isEmpty, "staged leftovers")
    } finally query.stop()
  }

  test("lakeStream: maxVersionsPerBatch bounds backfill batches") {
    import graft.lake.{LakeLog, LakeTable}
    import org.apache.spark.sql.types._
    val log = new LakeLog(tmpDir("lakestream_cap"))
    LakeTable.createTable(log, "ev", StructType(Seq(
      StructField("id", LongType), StructField("value", DoubleType))))
    (1 to 6).foreach(i => LakeTable.insert(spark, log, "ev",
      Seq((i.toLong, i.toDouble)).toDF("id", "value")))

    val query = Streams.lakeStream(spark, log, "ev",
        maxVersionsPerBatch = Some(2L))
      .writeStream.format("memory").queryName("lakecap")
      .option("checkpointLocation", tmpDir("lakecap_ckpt").toString)
      .start()
    try {
      query.processAllAvailable()
      // identical results to an uncapped stream...
      assert(spark.table("lakecap").count() == 6)
      // ...but the 6-version backfill was consumed 2 versions at a time:
      // 3 data-carrying micro-batches, each of exactly 2 rows
      val carrying = query.recentProgress.filter(_.numInputRows > 0)
      assert(carrying.length == 3,
        s"expected 3 capped batches, got ${carrying.length}")
      assert(carrying.forall(_.numInputRows == 2))
    } finally query.stop()
  }

  test("lakeStream: readStream tails the log; rewrites never replay") {
    import graft.lake.{LakeLog, LakeTable}
    import org.apache.spark.sql.types._
    val log = new LakeLog(tmpDir("lakestream"))
    LakeTable.createTable(log, "ev", StructType(Seq(
      StructField("id", LongType), StructField("region", StringType),
      StructField("value", DoubleType))), partitionBy = Seq("region"))
    LakeTable.insert(spark, log, "ev",
      Seq((1L, "eu", 1.0), (2L, "us", 2.0)).toDF("id", "region", "value"))

    val query = Streams.lakeStream(spark, log, "ev")
      .writeStream.format("memory").queryName("lakecdc")
      .option("checkpointLocation", tmpDir("lakecdc_ckpt").toString)
      .start()
    try {
      query.processAllAvailable()
      // batch 0: everything since version 0, partition column reconstructed
      assert(spark.table("lakecdc").count() == 2)
      assert(spark.table("lakecdc").columns.toSeq ==
        Seq("id", "region", "value"))
      assert(spark.table("lakecdc").filter(col("region") === "us")
        .select("value").as[Double].head() == 2.0)

      // new insert arrives as an incremental batch
      LakeTable.insert(spark, log, "ev",
        Seq((3L, "eu", 3.0)).toDF("id", "region", "value"))
      query.processAllAvailable()
      assert(spark.table("lakecdc").count() == 3)

      // compaction + restore are layout-only: no replayed rows
      (1 to 3).foreach(i => LakeTable.insert(spark, log, "ev",
        Seq((10L + i, "ap", i.toDouble)).toDF("id", "region", "value")))
      query.processAllAvailable()
      val before = spark.table("lakecdc").count()
      LakeTable.compact(spark, log, "ev", force = true)
      query.processAllAvailable()
      assert(spark.table("lakecdc").count() == before)

      // a delete's survivor rewrite streams nothing either
      LakeTable.deleteWhere(spark, log, "ev", "id = 1")
      query.processAllAvailable()
      assert(spark.table("lakecdc").count() == before)
    } finally query.stop()
  }

  test("lakeStream: checkpoint offsets read {\"version\":N}; restart replays none") {
    import graft.lake.{LakeLog, LakeTable}
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val log = new LakeLog(tmpDir("lakeoffsets"))
    LakeTable.createTable(log, "ev", StructType(Seq(
      StructField("id", LongType), StructField("value", DoubleType))))
    (1 to 3).foreach(i => LakeTable.insert(spark, log, "ev",
      Seq((i.toLong, i.toDouble)).toDF("id", "value")))
    val ckpt = tmpDir("lakeoffsets_ckpt")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = Streams.lakeStream(spark, log, "ev").writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("id").collect().foreach(r => seen.add(r.getLong(0)))
      }
      .start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(seen.asScala.toSeq.sorted == Seq(1L, 2L, 3L))
    // the source's line of the newest offset-log file: the format a
    // checkpoint of any graft-lake source carries
    val offsets = ckpt.resolve("offsets")
    val newest = java.nio.file.Files.list(offsets).iterator.asScala
      .map(_.getFileName.toString).filter(_.forall(_.isDigit))
      .map(_.toLong).max
    val lines = java.nio.file.Files.readAllLines(
      offsets.resolve(newest.toString)).asScala
    assert(lines.last == s"""{"version":${log.latestVersion("ev")}}""")
    seen.clear()
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(seen.isEmpty, "a restart from the checkpoint replayed rows")
      LakeTable.insert(spark, log, "ev", Seq((4L, 4.0)).toDF("id", "value"))
      q2.processAllAvailable()
      assert(seen.asScala.toSeq == Seq(4L))
    } finally q2.stop()
  }

  test("lakeChangeFeedStream: inserts and DV deletes with _change_type") {
    import graft.lake.{LakeLog, LakeTable}
    import org.apache.spark.sql.types._
    val log = new LakeLog(tmpDir("lakecdf"))
    LakeTable.createTable(log, "ev", StructType(Seq(
      StructField("id", LongType), StructField("region", StringType),
      StructField("value", DoubleType))), partitionBy = Seq("region"))
    LakeTable.insert(spark, log, "ev",
      (1 to 20).map(i => (i.toLong, if (i % 2 == 0) "eu" else "us", i * 1.0))
        .toDF("id", "region", "value"))
    val query = Streams.lakeChangeFeedStream(spark, log, "ev")
      .writeStream.format("memory").queryName("lakecdf")
      .option("checkpointLocation", tmpDir("lakecdf_ckpt").toString)
      .start()
    try {
      query.processAllAvailable()
      assert(spark.table("lakecdf").columns.toSeq ==
        Seq("id", "region", "value", "_change_type"))
      assert(spark.table("lakecdf")
        .filter($"_change_type" === "insert").count() == 20)
      // a MOR delete streams EXACTLY the deleted rows as deletes
      LakeTable.deleteWhereMor(spark, log, "ev", "id > 15")
      query.processAllAvailable()
      val dels = spark.table("lakecdf").filter($"_change_type" === "delete")
      assert(dels.count() == 5)
      assert(dels.agg(min("id")).as[Long].head() == 16L)
      // partition values ride along on delete rows too
      assert(dels.filter($"region" === "eu").count() == 3) // 16, 18, 20
      // a second OVERLAPPING delete streams only the NEW holes
      LakeTable.deleteWhereMor(spark, log, "ev", "id > 12")
      query.processAllAvailable()
      assert(spark.table("lakecdf")
        .filter($"_change_type" === "delete").count() == 8)
      // compaction (which materializes the DVs) is layout-only: no rows
      LakeTable.compact(spark, log, "ev", force = true)
      query.processAllAvailable()
      assert(spark.table("lakecdf").count() == 28)
      // replaying the feed reproduces the table: inserts minus deletes
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("id", "region", "value").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      val ins = rows(spark.table("lakecdf")
        .filter($"_change_type" === "insert"))
      val del = rows(spark.table("lakecdf")
        .filter($"_change_type" === "delete"))
      assert(ins -- del == rows(LakeTable.read(spark, log, "ev")))
    } finally query.stop()
  }

  test("sinkAggToLake: update-mode aggregates upsert into the lake table") {
    import graft.lake.{LakeLog, LakeTable}
    import org.apache.spark.sql.types._
    implicit val sq = spark.sqlContext
    val log = new LakeLog(tmpDir("aggsink"))
    LakeTable.createTable(log, "totals", StructType(Seq(
      StructField("user_id", LongType), StructField("total", DoubleType))))
    val input = MemoryStream[(Long, Double)]
    val agg = input.toDF().toDF("user_id", "value")
      .groupBy("user_id").agg(sum("value").as("total"))
    val query = Streams.sinkAggToLake(agg, log, "totals", "user_id",
      tmpDir("aggsink_ckpt").toString)
    try {
      input.addData((1L, 1.0), (1L, 2.0), (2L, 5.0))
      query.processAllAvailable()
      val t1 = LakeTable.read(spark, log, "totals")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(t1 == Map(1L -> 3.0, 2L -> 5.0))
      // a later batch updates user 1's group IN PLACE and adds user 3
      input.addData((1L, 4.0), (3L, 7.0))
      query.processAllAvailable()
      val t2 = LakeTable.read(spark, log, "totals")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(t2 == Map(1L -> 7.0, 2L -> 5.0, 3L -> 7.0))
      assert(LakeTable.read(spark, log, "totals").count() == 3) // no dupes
    } finally query.stop()
  }

  test("lake→transform→lake streaming pipeline is exactly-once across restart") {
    import graft.lake.{LakeLog, LakeTable}
    import org.apache.spark.sql.types._
    val log = new LakeLog(tmpDir("pipe"))
    val st = StructType(Seq(
      StructField("id", LongType), StructField("value", DoubleType)))
    LakeTable.createTable(log, "src", st)
    LakeTable.createTable(log, "dst", st)
    val ckpt = tmpDir("pipe_ckpt").toString

    def startPipeline() = Streams.sinkToLake(
      Streams.lakeStream(spark, log, "src")
        .withColumn("value", col("value") * 2),
      log, "dst", ckpt)

    LakeTable.insert(spark, log, "src",
      Seq((1L, 1.0), (2L, 2.0)).toDF("id", "value"))
    val q1 = startPipeline()
    try {
      q1.processAllAvailable()
      assert(LakeTable.read(spark, log, "dst")
        .agg(sum("value")).as[Double].head() == 6.0)
    } finally q1.stop()

    // restart from the SAME checkpoint: already-consumed versions must not
    // replay (offset restored), new commits stream exactly once
    val q2 = startPipeline()
    try {
      q2.processAllAvailable()
      assert(LakeTable.read(spark, log, "dst").count() == 2) // no dupes
      LakeTable.insert(spark, log, "src",
        Seq((3L, 3.0)).toDF("id", "value"))
      q2.processAllAvailable()
      val dst = LakeTable.read(spark, log, "dst")
      assert(dst.count() == 3)
      assert(dst.agg(sum("value")).as[Double].head() == 12.0)
    } finally q2.stop()
  }

  test("intervalJoin matches right events inside the left-anchored window") {
    implicit val sq = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long)]
    val clicks = MemoryStream[(Timestamp, Long)]
    val joined = Streams.intervalJoin(
      imps.toDF().toDF("ts", "ad_id"),
      clicks.toDF().toDF("ts", "ad_id"),
      "ad_id", windowSec = 600, lateness = "10 minutes")
    val query = joined.select(col("l.ad_id").as("ad"),
        col("l.ts").as("imp_ts"), col("r.ts").as("click_ts"))
      .writeStream.format("memory").queryName("attributed")
      .outputMode("append").start()
    try {
      imps.addData((ts(0), 1L), (ts(0), 2L))
      clicks.addData((ts(5), 1L))   // within 10 min of imp 1 → match
      clicks.addData((ts(20), 2L))  // 20 min after imp 2 → no match
      query.processAllAvailable()
      val out = spark.table("attributed").collect()
        .map(_.getLong(0)).toSeq
      assert(out == Seq(1L))
    } finally query.stop()
  }

  test("intervalJoinLeftOuter: null row on expiry, late match dropped") {
    implicit val sq = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long)]
    val clicks = MemoryStream[(Timestamp, Long)]
    val joined = Streams.intervalJoinLeftOuter(
      imps.toDF().toDF("ts", "ad_id"),
      clicks.toDF().toDF("ts", "ad_id"),
      "ad_id", windowSec = 600, lateness = "10 minutes")
    val query = joined.select(col("l.ad_id").as("ad"),
        col("r.ts").as("click_ts"))
      .writeStream.format("memory").queryName("outer_attr")
      .outputMode("append").start()
    try {
      imps.addData((ts(0), 1L), (ts(0), 2L))
      clicks.addData((ts(5), 1L)) // matches ad 1 — emits immediately
      query.processAllAvailable()
      // advance BOTH sides' watermarks far past ad 2's window: the global
      // watermark (min of the two) moves to ts(110), beyond ts(0)+600s
      imps.addData((ts(120), 9L))
      clicks.addData((ts(120), 8L))
      query.processAllAvailable()
      // a click for ad 2 arrives LATE (behind the watermark): it must be
      // dropped — ad 2's null row has already been licensed by expiry, and
      // a resurrected pair NEXT TO the null row would break outer-join
      // cardinality. This batch also performs the eviction emission.
      clicks.addData((ts(6), 2L))
      query.processAllAvailable()
      val rows = spark.table("outer_attr").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toSet
      // ad 1: matched pair; ad 2: exactly its null form; ad 9's window is
      // still open (watermark hasn't passed ts(120)+600s) → buffered
      assert(rows.map(_._1) == Set(1L, 2L), rows)
      assert(rows.collect { case (1L, c) => c.isDefined } == Set(true), rows)
      assert(rows.collect { case (2L, c) => c.isEmpty } == Set(true), rows)
    } finally query.stop()
  }

  test("streamingDedup drops duplicate keys within the watermark") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "event_id", "fp")
    val query = Streams.streamingDedup(df, "fp", lateness = "1 hour")
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try {
      input.addData((ts(0), 1L, "a"), (ts(1), 2L, "a"), (ts(2), 3L, "b"))
      query.processAllAvailable()
      input.addData((ts(3), 4L, "a"), (ts(4), 5L, "c"))
      query.processAllAvailable()
      val fps = spark.table("deduped").select("fp").as[String].collect().sorted
      assert(fps.toSeq == Seq("a", "b", "c"))
    } finally query.stop()
  }

  test("streaming semantic dedup: batch + history dedup against a codebook") {
    import graft.lake.{LakeLog, LakeTable}
    import org.apache.spark.sql.types._
    implicit val sq = spark.sqlContext
    val log = new LakeLog(tmpDir("semlake"))
    LakeTable.createTable(log, "vecs", StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(DoubleType)),
      StructField("centroid_id", IntegerType))))
    // frozen 2-centroid codebook on the axes
    val cents = Seq((0, Array(1.0, 0.0)), (1, Array(0.0, 1.0)))
      .toDF("centroid_id", "centroid")
    val input = MemoryStream[(Long, Array[Float])]
    val query = Streams.semanticDedupToLake(
      input.toDF().toDF("vec_id", "embedding"), log, "vecs",
      tmpDir("semckpt").toString, cents, threshold = 0.95,
      idCol = "vec_id", vecCol = "embedding")
    try {
      // batch 1: 1 and 2 are near-dups (within-batch, min id survives);
      // 3 is its own cluster
      input.addData(
        (1L, Array(1.0f, 0.01f)), (2L, Array(1.0f, 0.02f)),
        (3L, Array(0.0f, 1.0f)))
      query.processAllAvailable()
      // batch 2: 4 duplicates history (survivor 1); 5 is genuinely new
      // (same cluster as 3, but cos(~45 degrees) < 0.95)
      input.addData(
        (4L, Array(1.0f, 0.03f)), (5L, Array(0.6f, 0.8f)))
      query.processAllAvailable()
      val kept = LakeTable.read(spark, log, "vecs")
        .select("id").as[Long].collect().toSet
      assert(kept == Set(1L, 3L, 5L))
      // history is clustered by centroid_id and vectors are unit-norm
      val row = LakeTable.read(spark, log, "vecs")
        .filter(col("id") === 5L).head()
      val v = row.getSeq[Double](row.fieldIndex("v"))
      assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-6)
      assert(row.getInt(row.fieldIndex("centroid_id")) == 1)
    } finally query.stop()
  }

  test("streaming curation: redact → quality gate → dedup → lake sink") {
    // the batch curation operators are per-row Column expressions, so the
    // same pipeline runs unchanged as a micro-batch stream with
    // exactly-once lake commits
    import graft.lake.{LakeLog, LakeTable}
    import graft.operators.Redact
    import graft.functions.TextFunctions.{fingerprint, qualityScore}
    import org.apache.spark.sql.types._
    implicit val sq = spark.sqlContext
    val log = new LakeLog(tmpDir("curelake"))
    LakeTable.createTable(log, "corpus", StructType(Seq(
      StructField("doc_id", LongType), StructField("text_clean", StringType))))
    val input = MemoryStream[(Long, Timestamp, String)]
    val cured = Streams.streamingDedup(
        Redact.scrub(input.toDF().toDF("doc_id", "ts", "text"))
          .filter(qualityScore(col("text_clean")) >= 0.5)
          .withColumn("fp", fingerprint(col("text_clean"))),
        keyCol = "fp")
      .select("doc_id", "text_clean")
    val query = Streams.sinkToLake(cured, log, "corpus",
      tmpDir("cureckpt").toString)
    try {
      input.addData(
        (1L, ts(0), "the quick brown fox jumps over the lazy dog"),
        (2L, ts(1), "please contact jo.doe@corp.example.org for the details"),
        (3L, ts(2), "the quick brown fox jumps over the lazy dog"), // dup of 1
        (4L, ts(3), "a b")) // too short → quality gate drops it
      query.processAllAvailable()
      val rows = LakeTable.read(spark, log, "corpus")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.keySet == Set(1L, 2L))
      assert(rows(2L) == "please contact <EMAIL> for the details")
      // a second batch: replayed duplicate stays dropped, new doc lands
      input.addData(
        (5L, ts(4), "the quick brown fox jumps over the lazy dog"), // dup
        (6L, ts(5), "an entirely different sentence about sharded corpora"))
      query.processAllAvailable()
      val after = LakeTable.read(spark, log, "corpus")
        .select("doc_id").as[Long].collect().sorted
      assert(after.toSeq == Seq(1L, 2L, 6L))
    } finally query.stop()
  }
}
