package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the `events` table shape
  * (ts, event_id, user_id, event_type, value, props).
  *
  * The reference is batch-only (SURVEY.md §2.10) — this is the
  * beyond-reference extension using Spark's native streaming runtime:
  * incremental execution of the same declarative plans, watermark-bounded
  * state, exactly-once sinks. At scale the same code runs over a Kafka/file
  * stream with state distributed across executors by `user_id`.
  */
object Streams {

  /** File-based stream of the events shape: each parquet file dropped into
    * `dir` becomes a micro-batch (same schema as the batch events table).
    */
  def eventsFileStream(spark: SparkSession, dir: String,
                       schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Windowed counts/sums per event type with a watermark: late events
    * beyond `lateness` are dropped and their window state evicted — bounded
    * state at any scale.
    */
  def hourlyAggregates(events: DataFrame, lateness: String = "1 hour")
      : DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"),
        col("total_value"))

  final case class Event(ts: java.sql.Timestamp, event_id: Long, user_id: Long,
                         event_type: String, value: Double)
  final case class Session(user_id: Long, n_events: Long, total_value: Double,
                           start: java.sql.Timestamp, end: java.sql.Timestamp)
  // not `private`: the state encoder's generated code must see the class
  final case class SessionState(n: Long, total: Double, startMs: Long,
                                lastMs: Long)

  /** Gap-based sessionization via `flatMapGroupsWithState` — the custom
    * stateful operator pattern (KeyValueGroupedDataset + GroupState). A
    * session closes when a later event for the key arrives more than `gapMs`
    * after the last one; with `timeout = ProcessingTimeTimeout` idle sessions
    * are additionally flushed by the engine's timeout mechanism (pass
    * `NoTimeout` for fully input-driven, deterministic behavior — e.g. in
    * tests or replay jobs).
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 timeout: GroupStateTimeout =
                   GroupStateTimeout.ProcessingTimeTimeout())
      : Dataset[Session] = {
    implicit val sessionEnc = Encoders.product[Session]
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val longEnc = Encoders.scalaLong
    val useTimeout = timeout != GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, s.n, s.total,
              new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs)))
          } else {
            // (ts, event_id): a TOTAL order — equal-millisecond events
            // would otherwise fold in nondeterministic iterator order
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer[Session]()
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastMs <= gapMs =>
                  cur = Some(SessionState(s.n + 1, s.total + e.value, s.startMs, t))
                case Some(s) =>
                  closed += Session(userId, s.n, s.total,
                    new java.sql.Timestamp(s.startMs),
                    new java.sql.Timestamp(s.lastMs))
                  cur = Some(SessionState(1, e.value, t, t))
                case None =>
                  cur = Some(SessionState(1, e.value, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (useTimeout) state.setTimeoutDuration(gapMs)
            }
            closed.iterator
          }
      }
  }

  /** Streaming exact dedup on a key column with watermark-bounded state:
    * `dropDuplicates` keyed on the content fingerprint — the streaming twin
    * of [[graft.operators.Dedup.exactDedup]].
    */
  def streamingDedup(events: DataFrame, keyCol: String,
                     lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Stream-stream interval join: match rows of two streams on `keyCol`
    * where the right event lands within `[left.ts, left.ts + windowSec]` —
    * the impression⋈click shape. Both sides carry watermarks so the join
    * state is evicted once the interval can no longer be satisfied; without
    * the time bound + watermarks a stream-stream join would buffer forever.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   windowSec: Long, lateness: String = "1 hour",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", lateness).as("l")
    val r = right.withWatermark("ts", lateness).as("r")
    l.join(r,
      expr(s"""l.$keyCol = r.$keyCol AND
               r.ts >= l.ts AND
               r.ts <= l.ts + interval $windowSec seconds"""), joinType)
  }

  /** Stream-stream LEFT OUTER interval join: matches emit as they arrive
    * (same as the inner join); an UNMATCHED left row emits with nulls only
    * once the watermark passes `l.ts + window` — i.e. once no future right
    * row could still match it. Left rows too close to the stream's end
    * (within `window` of the final watermark, i.e. `window + lateness` of
    * the max event time) stay buffered in state and never emit their null
    * form — the price of correctness under late data, and exactly the
    * region a batch-equivalence check must exclude. */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
                            keyCol: String, windowSec: Long,
                            lateness: String = "1 hour"): DataFrame =
    intervalJoin(left, right, keyCol, windowSec, lateness, "left_outer")

  /** CDC stream over a lake table: each micro-batch is the rows logically
    * added by new log versions ([[graft.lake.LakeTable.changesSince]] over
    * the batch's version window; rewrites — compaction, delete survivors,
    * restores — are never replayed). See [[graft.lake.LakeTableProvider]].
    * `maxVersionsPerBatch` caps the log versions one micro-batch consumes,
    * so a backfill from version 0 of a long table catches up in bounded
    * steps. Composes with [[sinkToLake]] into end-to-end exactly-once
    * lake → transform → lake pipelines.
    */
  def lakeStream(spark: org.apache.spark.sql.SparkSession,
                 log: graft.lake.LakeLog, table: String,
                 startingVersion: Long = 0L,
                 maxVersionsPerBatch: Option[Long] = None): DataFrame =
    lakeSource(spark, log, table, startingVersion, maxVersionsPerBatch,
      changeFeed = false)

  /** Streaming CHANGE FEED over a lake table — [[lakeStream]] plus a
    * `_change_type` column ('insert' | 'delete'): each micro-batch is
    * [[graft.lake.LakeTable.changeFeed]] over its version window. Deletes
    * are the rows deletion vectors punched out, read through the lake's
    * one file reader; layout-only windows stream zero rows; windows with
    * copy-on-write rewrites fail the stream (no pre-images — Delta's CDF
    * makes the same demand of its writers). Pairs with
    * [[graft.lake.MaterializedView.continuousRefresh]]-style consumers
    * that need to SEE deletes rather than re-derive them.
    */
  def lakeChangeFeedStream(spark: org.apache.spark.sql.SparkSession,
                           log: graft.lake.LakeLog, table: String,
                           startingVersion: Long = 0L,
                           maxVersionsPerBatch: Option[Long] = None)
      : DataFrame =
    lakeSource(spark, log, table, startingVersion, maxVersionsPerBatch,
      changeFeed = true)

  private def lakeSource(spark: org.apache.spark.sql.SparkSession,
                         log: graft.lake.LakeLog, table: String,
                         startingVersion: Long,
                         maxVersionsPerBatch: Option[Long],
                         changeFeed: Boolean): DataFrame =
    spark.readStream.format("graft-lake")
      .options(Map("root" -> log.root.toString, "table" -> table,
        "startingVersion" -> startingVersion.toString,
        "changeFeed" -> changeFeed.toString) ++
        maxVersionsPerBatch.map("maxVersionsPerBatch" -> _.toString))
      .load()

  /** Stable per-query writer identity: derived from the checkpoint dir —
    * the identity that actually scopes `batchId` (a restart from the same
    * checkpoint resumes the same batch sequence; a different query or a
    * fresh checkpoint gets a different appId and never collides in the
    * transaction log's idempotency map). */
  private def appIdFor(checkpointDir: String): String =
    java.util.UUID.nameUUIDFromBytes(
      java.nio.file.Paths.get(checkpointDir).toAbsolutePath.normalize
        .toString.getBytes("UTF-8")).toString.take(8)

  /** Exactly-once streaming ingestion into a lake table: `foreachBatch`
    * commits each micro-batch through [[graft.lake.LakeTable.insert]] with
    * `txnId = stream-<appId>-<batchId>`, so a batch replayed after failure
    * hits the log's idempotency map and becomes a no-op — the same contract
    * Delta's `txnAppId`/`txnVersion` gives a streaming writer.
    */
  def sinkToLake(stream: DataFrame, log: graft.lake.LakeLog, table: String,
                 checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val appId = appIdFor(checkpointDir)
    graft.lake.LocalFs.install(stream.sparkSession)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.lake.LakeTable.insert(batch.sparkSession, log, table, batch,
          txnId = s"stream-$appId-$batchId")
        ()
      }
      .start()
  }

  /** WAP-gated exactly-once streaming ingestion — the streaming
    * QUARANTINE: every micro-batch stages invisibly through
    * [[graft.lake.Wap]] (real stat'd files main readers cannot see), an
    * audit `gate` inspects the staged batch and the base+staged overlay,
    * and only a passing batch publishes (one OCC commit adopting the
    * staged files); a failing batch aborts with zero versions minted —
    * a bad crawl chunk can never be listed by a training job, even
    * transiently. Crash/replay semantics compose from Wap's invariants:
    * an already-published batch id short-circuits (txn map), an
    * already-staged one re-audits (gates must be deterministic — they
    * see only the batch + table state, both frozen by the stage), and a
    * previously-aborted one restages from the replayed source and
    * re-audits to the same verdict.
    */
  def wapSinkToLake(stream: DataFrame, log: graft.lake.LakeLog,
                    table: String, checkpointDir: String)
                   (gate: (DataFrame, DataFrame) => Boolean)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val appId = appIdFor(checkpointDir)
    graft.lake.LocalFs.install(stream.sparkSession)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val wapId = s"$appId-$batchId"
        if (log.committedVersion(table, s"wap-$wapId").isEmpty) {
          if (graft.lake.Wap.staged(log, table, wapId).isEmpty)
            graft.lake.Wap.stage(s, log, table, batch, wapId)
          val pass = gate(
            graft.lake.Wap.readBatch(s, log, table, wapId),
            graft.lake.Wap.readStaged(s, log, table, wapId))
          if (pass) graft.lake.Wap.publish(s, log, table, wapId)
          else graft.lake.Wap.abort(log, table, wapId)
        }
        ()
      }
      .start()
  }

  /** Late-data DEAD-LETTER routing — the accountability face of the
    * watermark: where a built-in watermarked aggregation silently DROPS
    * rows older than the watermark, this sink routes them to a
    * quarantine table for backfill/monitoring and sends only on-time
    * rows onward. Each micro-batch evaluates against the watermark of
    * the PREVIOUS batches only (max event time seen so far − lateness),
    * read from a durable one-row-per-batch state table — so a replayed
    * batch recomputes the identical split (its own row is excluded by
    * `batch_id < current`), and every write is txn-idempotent: the
    * three appends (on-time, late, watermark row) each carry a
    * batch-scoped txn id. State is ONE (batch_id, max_ts) row per
    * batch — bounded by batch count, never by data.
    */
  def lateRoutingSinkToLake(stream: DataFrame, log: graft.lake.LakeLog,
                            onTimeTable: String, lateTable: String,
                            wmTable: String, tsCol: String,
                            latenessMs: Long, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val appId = appIdFor(checkpointDir)
    graft.lake.LocalFs.install(stream.sparkSession)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val s = batch0.sparkSession
        // two independent actions (guide §2.6): materialize the batch
        // (read 3× below: split + max) while reading the watermark from
        // EARLIER batches only — replay-deterministic even when this
        // batch's own wm row already landed before a crash (its row is
        // excluded by `batch_id < current`). inParallel joins before the
        // reads below, so the plain vars are safely published.
        var batch: DataFrame = null
        var prevMax: java.sql.Timestamp = null
        graft.lake.LakeTable.inParallel(Seq(
          () => batch = batch0.localCheckpoint(),
          () => prevMax = graft.lake.LakeTable.read(s, log, wmTable)
            .filter(col("batch_id") < batchId)
            .agg(max("max_ts")).head.getTimestamp(0)))
        val isLate =
          if (prevMax == null) lit(false)
          else col(tsCol) < lit(new java.sql.Timestamp(
            prevMax.getTime - latenessMs))
        // three independent pipelines over the checkpointed batch — the
        // on-time and late appends target different tables (per-table
        // commit locks) and the max-ts probe feeds only the wm append.
        // Every write keeps its batch-scoped txn id, so a crash anywhere
        // replays to the identical final state as the old sequential
        // order: committed appends no-op, missing ones re-run from the
        // same deterministic split.
        graft.lake.LakeTable.inParallel(Seq(
          () => { graft.lake.LakeTable.insert(s, log, onTimeTable,
            batch.filter(!isLate), txnId = s"on-$appId-$batchId"); () },
          () => { graft.lake.LakeTable.insert(s, log, lateTable,
            batch.filter(isLate), txnId = s"late-$appId-$batchId"); () },
          () => {
            val batchMax = batch.agg(max(col(tsCol))).head.getTimestamp(0)
            val newMax =
              if (batchMax == null) prevMax
              else if (prevMax == null || batchMax.after(prevMax)) batchMax
              else prevMax
            if (newMax != null) {
              import s.implicits._
              graft.lake.LakeTable.insert(s, log, wmTable,
                Seq((batchId, newMax)).toDF("batch_id", "max_ts"),
                txnId = s"wm-$appId-$batchId")
              ()
            }
          }))
        ()
      }
      .start()
  }

  /** Streaming SEMANTIC dedup into a lake table: each micro-batch of
    * (id, embedding) rows is assigned against a FROZEN codebook
    * ([[graft.operators.Dedup.semanticDupPairsWithCentroids]] machinery),
    * deduped within the batch (greedy min-id over the within-cluster pair
    * graph) and against everything already accepted into `table`, then the
    * survivors append exactly-once (same txn contract as [[sinkToLake]]).
    *
    * The history table stores (id, v[unit-norm], centroid_id) CLUSTERED BY
    * centroid_id, and each batch reads it filtered to the batch's own
    * centroid ids — with the lake's stat pruning that touches only the
    * files of probed clusters, so per-batch cost tracks batch size, not
    * history size. The frozen codebook is what keeps centroid ids stable
    * across batches (a re-fit would silently shift cluster boundaries).
    */
  def semanticDedupToLake(stream: DataFrame, log: graft.lake.LakeLog,
                          table: String, checkpointDir: String,
                          cents: DataFrame, threshold: Double,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.{VectorExpressions, VectorFunctions}
    val appId = appIdFor(checkpointDir)
    val centsLocal = cents.localCheckpoint() // reused every batch
    graft.lake.LocalFs.install(stream.sparkSession)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        VectorExpressions.register(s)
        val assigned = graft.operators.Similarity.assignNearest(
            batch.select(col(idCol).as("id"),
                VectorFunctions.normalize(col(vecCol)).as("v")),
            centsLocal, "v", 1)
          .select("id", "v", "centroid_id").localCheckpoint()
        // within-batch dedup: the SAME pair machinery as the batch
        // operator (Dedup.pairsOfAssignments), greedy min-id survivors
        // (Dedup.dropDuplicates: b-side of any pair drops)
        val pairs = graft.operators.Dedup
          .pairsOfAssignments(assigned, threshold, nProbe = 1)
        val batchKept =
          graft.operators.Dedup.dropDuplicates(assigned, pairs, "id")
        // against-history: readIndexed routes the isin predicate into
        // LakeFileIndex, so only files whose centroid_id stat range
        // intersects the batch's probed clusters are opened (the history
        // is written clusterBy(centroid_id), so files are stat-tight)
        val probed = batchKept.select("centroid_id").distinct()
          .collect().map(_.get(0)) // batch-bounded: <= |codebook| ids
        val history = graft.lake.LakeTable.readIndexed(s, log, table)
          .filter(col("centroid_id").isin(probed.toIndexedSeq: _*))
        val histDrop = batchKept.join(
            history.select(col("centroid_id"), col("v").as("h_v")),
            Seq("centroid_id"))
          .filter(VectorExpressions.dotNative(col("v"), col("h_v"))
            >= threshold)
          .select("id").distinct()
        val survivors = batchKept.join(histDrop, Seq("id"), "left_anti")
        graft.lake.LakeTable.insert(s, log, table, survivors,
          txnId = s"stream-sem-$appId-$batchId",
          clusterBy = Seq("centroid_id"))
        ()
      }
      .start()
  }

  /** Streaming UPSERT sink for update-mode aggregations: each micro-batch
    * carries the groups whose aggregates changed; committing them through
    * [[graft.lake.LakeTable.upsert]] keyed on `keyCol` keeps the lake table
    * equal to the CURRENT aggregate state (Delta's `foreachBatch` MERGE
    * recipe). Batch replays dedup through the same txn-id contract as
    * [[sinkToLake]], so restart-after-failure neither drops nor
    * double-applies an update.
    */
  def sinkAggToLake(stream: DataFrame, log: graft.lake.LakeLog, table: String,
                    keyCol: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val appId = appIdFor(checkpointDir)
    graft.lake.LocalFs.install(stream.sparkSession)
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // materialize the micro-batch once: isEmpty and the upsert would
        // otherwise EACH re-run the batch plan (source scan + state-store
        // replay) — two executions per trigger for one decision
        val b = batch.localCheckpoint()
        if (!b.isEmpty)
          graft.lake.LakeTable.upsert(batch.sparkSession, log, table, b,
            keyCol, txnId = s"streamagg-$appId-$batchId")
        ()
      }
      .start()
  }
}
