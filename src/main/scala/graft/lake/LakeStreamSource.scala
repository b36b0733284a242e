package graft.lake

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession, StreamingFrames}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, Offset => StreamOffset}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Structured Streaming CDC source over a lake table — `readStream` tails
  * the transaction log the way Delta's streaming source does:
  *
  *   - an offset IS a log version; a micro-batch is the half-open version
  *     window `(start, end]`;
  *   - a batch is the frame [[LakeTable]] builds for that window, through
  *     the same [[LakeTable.changeWindow]] classifier and
  *     [[LakeTable.readFiles]] reader as a batch read: the logically
  *     added rows ([[LakeTable.changesSince]]), or in `changeFeed` mode the
  *     [[LakeTable.changeFeed]] rows tagged `_change_type`. Rewrite adds
  *     (compaction, delete/upsert survivors, restores) never replay, so a
  *     compaction storm streams zero rows; a change-feed window holding a
  *     copy-on-write version fails the query;
  *   - rows read under the schema the stream started with, by physical
  *     name, so a stream keeps its columns across partition evolution,
  *     column renames and added columns.
  *
  * Exactly-once composition: offsets are checkpointed by the engine, and
  * the lake sink ([[graft.streaming.Streams.sinkToLake]]) dedups replayed
  * batches via txn ids — so lake → stream → lake pipelines are end-to-end
  * exactly-once.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft-lake")
  *     .option("root", log.root.toString).option("table", "events")
  *     .option("startingVersion", "0")    // default: 0 = from creation
  *     .load()
  * }}}
  */
final class LakeTableProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) =
    (shortName(), createSource(sqlContext, "", schema, providerName,
      parameters).schema)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    def need(k: String) = parameters.getOrElse(k,
      throw new LakeValidationException(s"graft-lake requires option '$k'"))
    val log = new LakeLog(java.nio.file.Paths.get(need("root")))
    val table = need("table")
    new LakeSource(sqlContext.sparkSession, log, table,
      log.schemaOf(log.snapshot(table)),
      parameters.get("startingVersion").fold(0L)(_.toLong),
      parameters.get("maxVersionsPerBatch").map(_.toLong),
      parameters.get("changeFeed").exists(_.toBoolean))
  }
}

/** `{"version":N}` — the committed log version this stream has consumed
  * through. */
final case class LakeOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

object LakeOffset {
  /** A checkpoint restores a v1 source's offsets as serialized JSON. */
  private[lake] def of(o: StreamOffset): LakeOffset = o match {
    case l: LakeOffset => l
    case other => LakeOffset("""\d+""".r.findFirstIn(other.json).get.toLong)
  }
}

private final class LakeSource(spark: SparkSession, log: LakeLog,
                               table: String, sch: TableSchema,
                               startingVersion: Long,
                               maxVersionsPerBatch: Option[Long],
                               changeFeed: Boolean)
    extends Source with SupportsAdmissionControl {

  override val schema: StructType = {
    val base = LakeTable.toStructType(sch)
    if (changeFeed) base.add(StructField("_change_type", StringType,
      nullable = false))
    else base
  }

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "graft-lake plans offsets through latestOffset(start, limit)")

  // Backfill admission control: `maxVersionsPerBatch` caps how many log
  // versions one micro-batch may consume, so a stream starting at version 0
  // of a long-lived table catches up in bounded batches instead of
  // materializing the whole history in batch 1. Null = nothing past
  // `startingVersion` yet (no batch).
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: StreamOffset, limit: ReadLimit)
      : StreamOffset = {
    val lo = Option(start).fold(startingVersion)(LakeOffset.of(_).version)
    val latest = log.latestVersion(table)
    val hi = maxVersionsPerBatch.fold(latest)(m =>
      math.min(latest, lo + math.max(1L, m)))
    if (start == null && hi <= lo) null else LakeOffset(math.max(lo, hi))
  }

  /** The window's frame as one streaming leaf, so per-batch
    * `numInputRows` counts exactly its rows. */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // read under the schema the stream started with: a batch must keep
    // the source's columns even after a later ADD or RENAME COLUMN
    val w = LakeTable.changeWindow(log, table,
        start.fold(startingVersion)(LakeOffset.of(_).version),
        LakeOffset.of(end).version)
      .copy(schema = sch)
    StreamingFrames.of(
      if (changeFeed) LakeTable.feedOf(spark, w)
      else LakeTable.insertedRows(spark, w),
      schema)
  }

  override def stop(): Unit = ()
}
