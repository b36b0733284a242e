package graft.lake

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Structured Streaming CDC source over a lake table — `readStream` tails
  * the transaction log the way Delta's streaming source does:
  *
  *   - an offset IS a log version; a micro-batch is the half-open version
  *     range `(start, end]`;
  *   - a batch's rows are the files LOGICALLY added in that range —
  *     `rewrite = true` adds (compaction, delete/upsert survivor rewrites,
  *     restores) are layout changes and are never replayed, so a compaction
  *     storm over a 100 TB table streams zero rows;
  *   - one input partition per added file: a version that added 1000 files
  *     fans out across the cluster. Each file's row rebuilds by the rule of
  *     [[LakeTable.readFiles]]: a column in the file's OWN logged partition
  *     map comes from that map (zero per-row decode cost), any other from
  *     its bytes by physical name — so a stream runs across partition
  *     evolution and column renames.
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
final class LakeTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  private def logFor(options: CaseInsensitiveStringMap): (LakeLog, String) = {
    val root = Option(options.get("root")).getOrElse(
      throw new LakeValidationException("graft-lake requires option 'root'"))
    val table = Option(options.get("table")).getOrElse(
      throw new LakeValidationException("graft-lake requires option 'table'"))
    (new LakeLog(java.nio.file.Paths.get(root)), table)
  }

  private def isCdf(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("changeFeed")).exists(_.toBoolean)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (log, table) = logFor(options)
    val base = LakeTable.toStructType(log.snapshot(table).schema.getOrElse(
      throw new LakeValidationException(s"table $table has no schema")))
    // change-feed mode appends the classification column (always LAST —
    // the reader's projection relies on it)
    if (isCdf(options))
      base.add(org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false))
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (_, table) = logFor(opts)
    new LakeStreamTable(opts.get("root"), table, schema,
      Option(opts.get("startingVersion")).map(_.toLong).getOrElse(0L),
      Option(opts.get("maxVersionsPerBatch")).map(_.toLong), isCdf(opts))
  }
}

private final class LakeStreamTable(root: String, table: String,
                                    tableSchema: StructType,
                                    startingVersion: Long,
                                    maxVersionsPerBatch: Option[Long],
                                    changeFeed: Boolean)
    extends Table with SupportsRead {

  override def name(): String = s"graft-lake:$table"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = tableSchema
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream =
        new LakeMicroBatchStream(root, table, tableSchema,
          startingVersion, maxVersionsPerBatch, changeFeed)
    }
}

/** `{"version": N}` — the committed log version this stream has consumed
  * through. */
final case class LakeOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

private final class LakeMicroBatchStream(root: String, table: String,
                                         schema: StructType,
                                         startingVersion: Long,
                                         maxVersionsPerBatch: Option[Long],
                                         changeFeed: Boolean = false)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  private val log = new LakeLog(java.nio.file.Paths.get(root))
  // the declared columns minus the synthetic _change_type
  private val declared = StructType(schema.fields.filterNot(f =>
    changeFeed && f.name == "_change_type"))
  // the FILE-side twin of `declared`: parquet matches columns by name, and
  // files carry PHYSICAL names (immutable across renames, so a stream
  // running across a RENAME COLUMN keeps reading the right bytes). Same
  // field order and types, all nullable — a column a file lacks (its own
  // partition columns) reads as NULL and the reader takes it from the
  // file's map.
  private val physSchema = {
    val sch = log.schemaOf(log.snapshot(table))
    StructType(declared.fields.map(f =>
      f.copy(name = sch.physFor(f.name), nullable = true)))
  }

  override def initialOffset(): Offset = LakeOffset(startingVersion)
  override def latestOffset(): Offset = LakeOffset(log.latestVersion(table))

  // Backfill admission control: `maxVersionsPerBatch` caps how many log
  // versions one micro-batch may consume, so a stream starting at version 0
  // of a long-lived table catches up in bounded batches (bounded task count
  // and state-update size per trigger) instead of materializing the whole
  // history in batch 1. The engine prefers this overload when the source
  // declares SupportsAdmissionControl; uncapped sources see no change.
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = {
    val lo = start.asInstanceOf[LakeOffset].version
    val latest = log.latestVersion(table)
    LakeOffset(maxVersionsPerBatch.fold(latest)(m =>
      math.min(latest, lo + math.max(1L, m))))
  }
  override def deserializeOffset(json: String): Offset =
    LakeOffset("""\d+""".r.findFirstIn(json).get.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val lo = start.asInstanceOf[LakeOffset].version
    val hi = end.asInstanceOf[LakeOffset].version
    val versions = log.versions(table).filter(v => v > lo && v <= hi)
    if (!changeFeed)
      // CDC-insert mode: logically added files only; rewrites (and DV
      // re-adds, which are rewrite-flagged) never replay
      return versions
        .flatMap(v => log.readEntry(table, v).adds)
        .filterNot(_.rewrite)
        .map(f => LakeInputPartition(f.path, f.size, f.partition)
          : InputPartition)
        .toArray
    // change-feed mode: classify each version from the log alone
    versions.flatMap { v =>
      val e = log.readEntry(table, v)
      if (e.removes.isEmpty && e.adds.forall(!_.rewrite))
        e.adds.map(f => LakeInputPartition(f.path, f.size, f.partition,
          changeType = "insert"))
      else if (LakeTable.isDvDeltaEntry(log, table, e)) {
        // one delete partition per re-added file: its rows at (new dv
        // positions ∖ prior dv positions)
        val prior = log.snapshot(table, v - 1).files
          .map(f => f.path -> f).toMap
        e.adds.map { a =>
          val dv = a.dv.get
          val pdv = prior(a.path).dv
          LakeInputPartition(a.path, a.size, a.partition,
            changeType = "delete",
            dvPath = dv.path, dvSize = fileSize(dv.path),
            priorDvPath = pdv.map(_.path).orNull,
            priorDvSize = pdv.map(p => fileSize(p.path)).getOrElse(0L))
        }
      } else if (LakeTable.isLayoutOnlyEntry(log, table, e)) Nil
      else throw new LakeValidationException(
        s"version $v of $table is not change-feed expressible " +
          "(copy-on-write rewrite without pre-images) — use diff()")
    }.map(p => p: InputPartition).toArray
  }

  private def fileSize(p: String): Long =
    java.nio.file.Files.size(java.nio.file.Paths.get(p))

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    // the row-based parquet reader hands back true InternalRow iterators;
    // the vectorized one returns ColumnarBatch — force row-based for the
    // duration of building the reader function (CDC batches are deltas,
    // not full-table scans)
    // serialized set/restore: two streams building readers concurrently on
    // the shared session would otherwise race the toggle and could leave
    // the vectorized reader disabled session-wide
    val (readFn, dvReadFn) =
      LakeMicroBatchStream.vectorizedToggleLock.synchronized {
        val key = "spark.sql.parquet.enableVectorizedReader"
        val prev = spark.conf.getOption(key)
        try {
          spark.conf.set(key, "false")
          val data = new ParquetFileFormat().buildReaderWithPartitionValues(
            sparkSession = spark,
            dataSchema = physSchema,
            partitionSchema = StructType(Nil),
            requiredSchema = physSchema,
            filters = Nil,
            options = Map.empty,
            hadoopConf = spark.sessionState.newHadoopConf())
          // second reader for DV sidecars (delete partitions only)
          val dv = if (!changeFeed) None
            else Some(new ParquetFileFormat().buildReaderWithPartitionValues(
              sparkSession = spark,
              dataSchema = LakeTable.DvSchema,
              partitionSchema = StructType(Nil),
              requiredSchema = LakeTable.DvSchema,
              filters = Nil,
              options = Map.empty,
              hadoopConf = spark.sessionState.newHadoopConf()))
          (data, dv)
        } finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    new LakeReaderFactory(readFn, declared, changeFeed, dvReadFn)
  }
}

private object LakeMicroBatchStream {
  /** Guards the session-global vectorized-reader toggle in
    * createReaderFactory. */
  val vectorizedToggleLock = new Object
}

private final case class LakeInputPartition(path: String, size: Long,
                                            partition: Map[String, String],
                                            changeType: String = "insert",
                                            dvPath: String = null,
                                            dvSize: Long = 0L,
                                            priorDvPath: String = null,
                                            priorDvSize: Long = 0L)
    extends InputPartition

/** Reads one data file's declared columns by physical name and projects
  * them in declared order, each column in the file's own partition map
  * replaced by that map's literal (+ the `_change_type` literal in
  * change-feed mode). Delete partitions read the file's DV sidecars
  * executor-side, build the position delta (new ∖ prior) in memory —
  * bounded by the file's deleted-row count — and emit only the rows the
  * delete punched out, by running row index. */
private final class LakeReaderFactory(
    readFn: PartitionedFile => Iterator[InternalRow],
    schema: StructType, changeFeed: Boolean = false,
    dvReadFn: Option[PartitionedFile => Iterator[InternalRow]] = None)
    extends PartitionReaderFactory {

  private def dvPositions(fn: PartitionedFile => Iterator[InternalRow],
                          path: String, size: Long,
                          forBase: String): java.util.HashSet[Long] = {
    val out = new java.util.HashSet[Long]()
    val it = fn(PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString("file://" + path), 0, size))
    while (it.hasNext) {
      val r = it.next()
      if (r.getUTF8String(0).toString == forBase) out.add(r.getLong(1))
    }
    out
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val lp = p.asInstanceOf[LakeInputPartition]
    val file = PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString("file://" + lp.path), 0, lp.size)
    val columns: Seq[Expression] =
      schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        lp.partition.get(f.name) match {
          case Some(v) =>
            Literal(PartitionValues.internalValue(v, f.dataType), f.dataType)
          case None => BoundReference(i, f.dataType, nullable = true)
        }
      } ++ (if (changeFeed)
        Seq(Literal(UTF8String.fromString(lp.changeType), StringType))
      else Nil)
    val projection = UnsafeProjection.create(columns)
    val raw = readFn(file)
    val it =
      if (lp.changeType != "delete") raw
      else {
        // positions this delete added: new dv minus whatever was already
        // a hole before the entry
        // the shared helper IS the DV-keying contract — an inline copy
        // here could desynchronize the two position-matching paths
        val base = LakeTable.baseName(lp.path)
        val fn = dvReadFn.get
        val pos = dvPositions(fn, lp.dvPath, lp.dvSize, base)
        if (lp.priorDvPath != null)
          pos.removeAll(dvPositions(fn, lp.priorDvPath, lp.priorDvSize, base))
        // running row index == parquet row index: the reader consumes the
        // whole file (no filters, no split), in file order
        var idx = -1L
        raw.filter { _ => idx += 1; pos.contains(idx) }
      }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = projection(it.next()); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
