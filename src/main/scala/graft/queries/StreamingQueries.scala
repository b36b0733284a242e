package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import Fixtures._

/** Batch sessionization and the streaming queries: file-stream replays
  * over staged chunks, lake change feeds, WAP-gated ingestion and
  * stream-stream joins. */
object StreamingQueries {
  val all: Seq[Q] = Seq(

    // ---- batch sessionization (window-function shape of Streams.sessionize)
    Q("q_sessions", oracleSql = """
      WITH lagged AS (
        SELECT user_id, event_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_ts
        FROM events),
      marked AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN prev_ts IS NULL
                         OR epoch(ts) - epoch(prev_ts) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM lagged),
      numbered AS (
        SELECT user_id, value,
               CAST(sum(new_session) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS session_id
        FROM marked)
      SELECT user_id, session_id, count(*) AS n_events,
             round(sum(value), 4) AS total_value
      FROM numbered GROUP BY user_id, session_id
      ORDER BY user_id, session_id""",
      build = (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapSec = 1800L
      t(s, d, "events")
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapSec,
            1L).otherwise(0L))
        .withColumn("session_id", sum("new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("total_value"))
        .orderBy("user_id", "session_id")
    }),

    // Structured Streaming under the exact oracle: the events corpus lands
    // as several parquet files, replays as micro-batches (maxFilesPerTrigger)
    // through an UPDATE-mode windowed aggregation, and each batch's changed
    // groups UPSERT exactly-once into a lake table (Streams.sinkAggToLake's
    // txn-id contract). The final table state must equal the one-shot batch
    // GROUP BY — which DuckDB recomputes — so the hash check covers the
    // incremental state machine, the update-mode delta emission AND the
    // idempotent merge, end-to-end. At scale the same code tails a Kafka/file
    // stream; state is partitioned by group key across executors.
    // the streaming upsert pipeline must land exactly the batch GROUP BY
    Q("q_stream_hourly", oracleSql = """
      SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
             round(sum(value), 4) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
      build = (s, d) => withShufflePartitions(s, 4) {
      import graft.lake.{LakeLog, LakeTable}
      import graft.streaming.Streams
      val ev = t(s, d, "events").select("ts", "event_id", "event_type", "value")
      val tmp = java.nio.file.Files.createTempDirectory("graftstream")
      val srcDir = tmp.resolve("src").toString
      ev.repartition(6, col("event_id")).write.parquet(srcDir)
      val log = new LakeLog(tmp.resolve("lake"))
      val sinkDf = ev.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("hour",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("total_value",
            org.apache.spark.sql.types.DoubleType))))
      LakeTable.createTable(log, "hourly", sinkDf.schema)
      val agg = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "2").parquet(srcDir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
        .withColumn("k",
          concat(col("hour").cast("string"), lit("|"), col("event_type")))
        .select("k", "hour", "event_type", "n", "total_value")
      val q = Streams.sinkAggToLake(agg, log, "hourly", "k",
        tmp.resolve("ckpt").toString)
      q.processAllAvailable(); q.stop()
      LakeTable.read(s, log, "hourly")
        .select(col("hour"), col("event_type"), col("n"),
          round(col("total_value"), 4).as("total_value"))
        .orderBy("hour", "event_type")
    }),

    // Streaming distinct-cardinality: the HLL register file maintained as
    // a running update-mode aggregate, upserted per micro-batch into an
    // exactly-once lake table keyed by register index. Register max-merge
    // is ORDER-INVARIANT, so the stream's final state equals the batch
    // register file bit-for-bit regardless of micro-batch boundaries —
    // which is exactly what makes a streaming sketch exactly-oracle-
    // checkable (DuckDB replays the batch build). At crawl scale this is
    // the shape of "distinct urls seen so far, per day": state ≤ m rows,
    // each micro-batch's exchange ≤ m rows, history never re-read.
    // q_stream_hll: register max-merge is order-invariant, so the
    // streaming upsert state == the batch register file — replay the
    // batch build (global, no groups).
    Q("q_stream_hll", oracleSql = """
      WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS term
        FROM documents),
      d AS (SELECT DISTINCT term FROM toks),
      k AS (SELECT CAST(('0x' || substring(md5(term), 1, 15)) AS BIGINT)
              AS key FROM d),
      r AS (SELECT key % 64 AS idx,
                   max(CASE WHEN key // 64 = 0 THEN 55
                            ELSE 55 - length(bin(key // 64)) END) AS rho
            FROM k GROUP BY 1),
      g AS (SELECT CAST(sum(1::BIGINT << (55 - rho)) AS BIGINT)
                     AS s_present,
                   count(*) AS n_present
            FROM r),
      e AS (SELECT CAST(s_present + (64 - n_present) * (1::BIGINT << 55)
                     AS BIGINT) AS s_scaled,
                   CAST(64 - n_present AS BIGINT) AS zero_regs
            FROM g)
      SELECT (SELECT CAST(count(DISTINCT term) AS BIGINT) FROM toks)
               AS exact_distinct,
             s_scaled, zero_regs,
             CAST(floor(0.709 * 64.0 * 64.0 * power(2.0, 55.0)
                        / CAST(s_scaled AS DOUBLE) * 1000.0) AS BIGINT)
               AS est_milli
      FROM e""",
      build = (s, d) => withShufflePartitions(s, 4) {
      import graft.lake.{LakeLog, LakeTable}
      import graft.streaming.Streams
      val docs = t(s, d, "documents").select("doc_id", "text")
      val tmp = java.nio.file.Files.createTempDirectory("graftshll")
      val srcDir = tmp.resolve("src").toString
      docs.repartition(6, col("doc_id")).write.parquet(srcDir)
      val log = new LakeLog(tmp.resolve("lake"))
      val sinkDf = s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("idx",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rho",
            org.apache.spark.sql.types.IntegerType))))
      LakeTable.createTable(log, "hll_regs", sinkDf.schema)
      val regStream = graft.operators.Hll.registers(
          s.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "2").parquet(srcDir)
            .select(explode(tokens(normalizeText(col("text")))).as("term")),
          "term", b = 6)
        .withColumn("k", col("idx").cast("string"))
        .select("k", "idx", "rho")
      val q = Streams.sinkAggToLake(regStream, log, "hll_regs", "k",
        tmp.resolve("ckpt").toString)
      q.processAllAvailable(); q.stop()
      val exact = docs
        .select(explode(tokens(normalizeText(col("text")))).as("term"))
        .agg(countDistinct("term").as("exact_distinct"))
      graft.operators.Hll.estimate(
          LakeTable.read(s, log, "hll_regs").select("idx", "rho"), b = 6)
        .crossJoin(exact)
        .select(col("exact_distinct"), col("s_scaled"), col("zero_regs"),
          col("est_milli"))
    }),

    // flatMapGroupsWithState under the exact oracle: gap sessionization is
    // the custom-STATE streaming operator (KeyValueGroupedDataset +
    // GroupState), the one surface update-mode aggs can't express. The
    // events corpus is split into 6 time-range chunks fed as micro-batches
    // in event-time order (pinned mtimes; maxFilesPerTrigger=1), so
    // sessions that span batch boundaries must be carried in state and
    // closed by a later batch. With NoTimeout each user's LAST session
    // never closes — deterministically — so the oracle is DuckDB's batch
    // sessionization minus each user's final session, on the same
    // millisecond gap rule the operator uses. Every emitted session's
    // count, sum, start and end hash-match.
    // stream sessionization emits every CLOSED session; with NoTimeout each
    // user's final session deterministically never closes, so the oracle is
    // batch sessionization (same millisecond gap rule) minus that session
    Q("q_stream_sessions", oracleSql = """
      WITH e AS (
        SELECT user_id, event_id, epoch_ms(ts) AS tms, value FROM events),
      m AS (
        SELECT user_id, event_id, tms, value,
               CASE WHEN lag(tms) OVER w IS NULL
                      OR tms - lag(tms) OVER w > 1800000 THEN 1 ELSE 0 END
                 AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)),
      s AS (
        SELECT user_id, tms, value,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY tms, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM m),
      agg AS (
        SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS total_value,
               min(tms) AS start_ms, max(tms) AS end_ms
        FROM s GROUP BY user_id, sid),
      last AS (SELECT user_id, max(sid) AS mx FROM agg GROUP BY user_id)
      SELECT a.user_id, a.n_events, a.total_value, a.start_ms, a.end_ms
      FROM agg a JOIN last l ON a.user_id = l.user_id AND a.sid < l.mx
      ORDER BY a.user_id, a.start_ms""",
      build = (s, d) => withShufflePartitions(s, 4) {
      import org.apache.spark.sql.streaming.{GroupStateTimeout, Trigger}
      import scala.jdk.CollectionConverters._
      val ev = t(s, d, "events")
        .select(col("ts"), col("event_id"), col("user_id"),
          col("event_type"), col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graftsess")
      val srcDir = writeTimeChunks(ev, 6, tmp)
      import org.apache.spark.sql.Encoders
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      val sessions = graft.streaming.Streams.sessionize(
        stream.as[graft.streaming.Streams.Event](
          Encoders.product[graft.streaming.Streams.Event]),
        gapMs = 1800000L, timeout = GroupStateTimeout.NoTimeout())
      val outDir = tmp.resolve("out").toString
      val q = sessions.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .select(col("user_id"), col("n_events"),
          round(col("total_value"), 4).as("total_value"),
          unix_millis(col("start")).as("start_ms"),
          unix_millis(col("end")).as("end_ms"))
        .orderBy("user_id", "start_ms")
    }),

    // Streaming exact dedup under the oracle: dropDuplicatesWithinWatermark
    // keyed on a composite fingerprint emits each key exactly once across
    // all micro-batches (state carries seen keys; the 7-day horizon keeps
    // every key in state, so this is exact dedup). Only key-derived columns
    // are output — which copy of a duplicate survives is the one
    // within-batch nondeterminism the operator legitimately has — so the
    // emitted set must equal DuckDB's DISTINCT.
    // streaming dedup emits each key exactly once == batch DISTINCT
    Q("q_stream_dedup", oracleSql = """
      SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type""",
      build = (s, d) => withShufflePartitions(s, 4) {
      import org.apache.spark.sql.streaming.Trigger
      val ev = t(s, d, "events")
        .select(col("ts"), col("event_id"), col("user_id"),
          col("event_type"), col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graftsd")
      val srcDir = writeTimeChunks(ev, 4, tmp)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "2").parquet(srcDir.toString)
        .withColumn("k", concat_ws("|", col("user_id"), col("event_type")))
      val deduped = graft.streaming.Streams
        .streamingDedup(stream, "k", lateness = "7 days")
        .select(col("user_id"), col("event_type"))
      val outDir = tmp.resolve("out").toString
      val q = deduped.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(outDir).orderBy("user_id", "event_type")
    }),

    // Stream-STATIC join under the exact oracle — the dimension-enrichment
    // shape (event stream ⋈ slowly-changing dim table). Unlike the
    // stream-stream joins there is NO state store: each micro-batch plans a
    // fresh BroadcastHashJoin against the static side, so the stream side
    // never shuffles and the dim is re-resolved per batch (at scale that is
    // what picks up dim-table updates between batches). The batch output
    // must equal DuckDB's one-shot LEFT JOIN of the same tables.
    Q("q_stream_enrich", oracleSql = """
      SELECT c_mktsegment, event_type, count(*) AS n,
             round(sum(value), 4) AS total_value
      FROM events LEFT JOIN customer ON user_id = c_custkey
      GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""",
      build = (s, d) => withShufflePartitions(s, 4) {
      import org.apache.spark.sql.streaming.Trigger
      val ev = t(s, d, "events")
        .select(col("ts"), col("event_id"), col("user_id"),
          col("event_type"), col("value"))
      val dim = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val tmp = java.nio.file.Files.createTempDirectory("graftse")
      val srcDir = writeTimeChunks(ev, 4, tmp)
      val enriched = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "2").parquet(srcDir.toString)
        .join(broadcast(dim), col("user_id") === col("c_custkey"),
          "left_outer")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("c_mktsegment"))
      val outDir = tmp.resolve("out").toString
      val q = enriched.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
        .orderBy("c_mktsegment", "event_type")
    }),

    // The lake CDC source under the exact oracle: three OCC commits land
    // in `src`, the CDC stream tails the log (offsets = log versions, each
    // micro-batch the changesSince frame of its version window), a
    // filter+derive transform runs per micro-batch, and survivors append
    // exactly-once into `dst` via the txn-id contract. The final `dst`
    // contents must equal the one-shot batch transform of the source rows,
    // which DuckDB recomputes from lineitem directly — covering the custom
    // source's offset/replay semantics, the transform and the idempotent
    // sink in one hash.
    // Streaming CHANGE FEED: the CDC source in changeFeed mode tails a
    // table through two overlapping merge-on-read deletes — deletes
    // arrive as rows tagged _change_type='delete', enumerated from DV
    // growth per micro-batch (each hole streamed exactly once), reading
    // only the touched files' positions. DuckDB recomputes both halves.
    // the CDC-sourced lake->lake pipeline must land exactly the one-shot
    // batch transform of the source rows
    Q("q_stream_cdf", oracleSql = """
      SELECT ct AS _change_type, count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM (
        SELECT 'insert' AS ct, l_quantity, l_extendedprice FROM lineitem
        UNION ALL
        SELECT 'delete' AS ct, l_quantity, l_extendedprice
        FROM lineitem WHERE l_quantity > 40)
      GROUP BY ct ORDER BY ct""",
      build = (s, d) => withShufflePartitions(s, 4) {
      import org.apache.spark.sql.streaming.Trigger
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftscdf"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "src", li.schema)
      // stage both halves concurrently, commit in order (identical history)
      LakeTable.insertAll(s, log, "src", Seq(
        (li.filter(col("l_orderkey") % 2 === 0), "even"),
        (li.filter(col("l_orderkey") % 2 === 1), "odd")))
      LakeTable.deleteWhereMor(s, log, "src", "l_quantity > 45")
      LakeTable.deleteWhereMor(s, log, "src", "l_quantity > 40")
      val tmp = java.nio.file.Files.createTempDirectory("graftscdf_io")
      val q = graft.streaming.Streams.lakeChangeFeedStream(s, log, "src")
        .writeStream.format("parquet")
        .option("path", tmp.resolve("out").toString)
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(tmp.resolve("out").toString)
        .groupBy("_change_type")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("_change_type")
    }),

    Q("q_stream_cdc", oracleSql = """
      SELECT l_returnflag, count(*) AS n,
             round(sum(l_quantity * l_extendedprice), 2) AS sum_rev
      FROM lineitem WHERE l_quantity > 10
      GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) => withShufflePartitions(s, 4) {
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftcdc"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "src", li.schema)
      def xform(df: DataFrame): DataFrame = df
        .filter(col("l_quantity") > 10)
        .withColumn("revenue", col("l_quantity") * col("l_extendedprice"))
      LakeTable.createTable(log, "dst", xform(li).schema)
      LakeTable.insertAll(s, log, "src", (0 to 2).map(m =>
        (li.filter(col("l_orderkey") % 3 === m), s"slice-$m")))
      val tmp = java.nio.file.Files.createTempDirectory("graftcdc_ckpt")
      val q = graft.streaming.Streams.sinkToLake(
        xform(graft.streaming.Streams.lakeStream(s, log, "src")),
        log, "dst", tmp.toString)
      q.processAllAvailable(); q.stop()
      LakeTable.read(s, log, "dst")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("revenue"), 2).as("sum_rev"))
        .orderBy("l_returnflag")
    }),

    // Streaming QUARANTINE: WAP-gated exactly-once ingestion. Four
    // key-sliced micro-batches stage invisibly through the lake's
    // write-audit-publish; the audit gate rejects any batch carrying a
    // blocklisted key bucket (slice 2), which therefore aborts with
    // ZERO versions minted — a bad crawl chunk is never listable, even
    // transiently. DuckDB recomputes the published union (slices 0,1,3)
    // exactly; the in-query requires pin the version math (create +
    // exactly 3 publishes) and that no staged leftovers remain.
    // the quarantined slice (blocklisted bucket 2) aborted before any
    // commit — the published table is exactly the other three slices
    Q("q_stream_wap", oracleSql = """
      SELECT l_returnflag, count(*) AS n,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem WHERE l_orderkey % 4 <> 2
      GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) => withShufflePartitions(s, 4) {
      import graft.lake.{LakeLog, LakeTable, Wap}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftswap"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice")
      LakeTable.createTable(log, "dst", li.schema)
      val tmp = java.nio.file.Files.createTempDirectory("graftswap_src")
      // one chunk per key bucket. The sort narrows within-file order but
      // is not a total order (the key isn't unique and the dynamic-
      // partition write adds its own sort on __chunk) — immaterial
      // downstream: every consumer is an order-insensitive aggregate
      val srcDir = writeChunks(li, (col("l_orderkey") % 4).cast("int"), 4,
        Seq("l_orderkey", "l_quantity", "l_extendedprice"), tmp)
      val stream = s.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      val q = graft.streaming.Streams.wapSinkToLake(stream, log, "dst",
        tmp.resolve("ckpt").toString) { (batch, _) =>
        // the audit: no rows from the blocklisted key bucket
        batch.filter(col("l_orderkey") % 4 === 2).limit(1).count() == 0L
      }
      q.processAllAvailable(); q.stop()
      require(log.latestVersion("dst") == 3L,
        s"expected create + 3 publishes, got ${log.latestVersion("dst")}")
      require(Wap.listStaged(log, "dst").isEmpty, "staged leftovers")
      LakeTable.read(s, log, "dst")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // Stream-stream interval join under the exact oracle (the
    // impression⋈click shape): two streams of the same corpus joined on
    // user_id with r.ts ∈ [l.ts, l.ts+1h]. Inner joins emit as rows arrive
    // — state buffers both sides, watermarks bound it — and with
    // event-time-ordered batches and a lateness horizon wider than the
    // corpus nothing is ever late, so the emitted set must equal the batch
    // join exactly, which DuckDB recomputes. (Watermark EVICTION semantics
    // — the part that needs late data — is spec-tested in StreamsSpec;
    // here the oracle pins join completeness and the interval arithmetic.)
    // nothing is late under the 7-day horizon, so the stream-stream join
    // must emit exactly the batch interval join
    Q("q_stream_join", oracleSql = """
      SELECT l.user_id AS user_id, l.event_id AS a_id, r.event_id AS b_id,
             epoch_ms(l.ts) AS a_ms, epoch_ms(r.ts) AS b_ms
      FROM events l JOIN events r
        ON l.user_id = r.user_id AND r.ts >= l.ts
        AND r.ts <= l.ts + INTERVAL 3600 SECOND
      WHERE l.event_type = 'view' AND r.event_type = 'click'
      ORDER BY user_id, a_id, b_id""",
      build = (s, d) => withShufflePartitions(s, 4) {
      import org.apache.spark.sql.streaming.Trigger
      val ev = t(s, d, "events")
        .select(col("ts"), col("event_id"), col("user_id"),
          col("event_type"), col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graftsj")
      val srcDir = writeTimeChunks(ev, 4, tmp)
      def src(eventType: String) = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "2").parquet(srcDir.toString)
        // filter BEFORE the join: each side buffers only its own type's
        // rows in state — the impression⋈click shape, not a corpus²
        .filter(col("event_type") === eventType)
      val joined = graft.streaming.Streams.intervalJoin(
          src("view"), src("click"), "user_id",
          windowSec = 3600L, lateness = "7 days")
        .select(col("l.user_id").as("user_id"),
          col("l.event_id").as("a_id"), col("r.event_id").as("b_id"),
          unix_millis(col("l.ts")).as("a_ms"),
          unix_millis(col("r.ts")).as("b_ms"))
      val outDir = tmp.resolve("out").toString
      val q = joined.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(outDir).orderBy("user_id", "a_id", "b_id")
    }),

    // Stream-stream LEFT OUTER interval join under the exact oracle: the
    // null-emission operator. Matches emit as they arrive (≡ the inner
    // join); an unmatched view emits its null row only once the global
    // watermark (min of both sides' max event time, minus lateness)
    // passes view.ts + window — so the batch equivalence is: ALL matched
    // pairs, plus null rows exactly for unmatched views old enough that
    // no future click could still pair with them. DuckDB recomputes the
    // final watermark and that cutoff from the same rows.
    Q("q_stream_join_outer", oracleSql = """
      WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
      cl AS (SELECT * FROM events WHERE event_type = 'click'),
      wm AS (SELECT least((SELECT max(ts) FROM v),
                          (SELECT max(ts) FROM cl))
                    - INTERVAL 1 HOUR AS w)
      SELECT v.user_id, v.event_id AS a_id, cl.event_id AS b_id,
             epoch_ms(v.ts) AS a_ms, epoch_ms(cl.ts) AS b_ms
      FROM v JOIN cl ON v.user_id = cl.user_id
        AND cl.ts >= v.ts AND cl.ts <= v.ts + INTERVAL 3600 SECONDS
      UNION ALL
      SELECT v.user_id, v.event_id, CAST(NULL AS BIGINT),
             epoch_ms(v.ts), CAST(NULL AS BIGINT)
      FROM v
      WHERE NOT EXISTS (SELECT 1 FROM cl WHERE cl.user_id = v.user_id
          AND cl.ts >= v.ts AND cl.ts <= v.ts + INTERVAL 3600 SECONDS)
        AND v.ts + INTERVAL 3600 SECONDS < (SELECT w FROM wm)
      ORDER BY user_id, a_id, b_id""",
      build = (s, d) => withShufflePartitions(s, 4) {
      import org.apache.spark.sql.streaming.Trigger
      val ev = t(s, d, "events")
        .select(col("ts"), col("event_id"), col("user_id"),
          col("event_type"), col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graftsjo")
      val srcDir = writeTimeChunks(ev, 4, tmp)
      def src(eventType: String) = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "2").parquet(srcDir.toString)
        .filter(col("event_type") === eventType)
      val joined = graft.streaming.Streams.intervalJoinLeftOuter(
          src("view"), src("click"), "user_id",
          windowSec = 3600L, lateness = "1 hour")
        .select(col("l.user_id").as("user_id"),
          col("l.event_id").as("a_id"), col("r.event_id").as("b_id"),
          unix_millis(col("l.ts")).as("a_ms"),
          unix_millis(col("r.ts")).as("b_ms"))
      val outDir = tmp.resolve("out").toString
      val q = joined.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(outDir).orderBy("user_id", "a_id", "b_id")
    }),
  )
}
