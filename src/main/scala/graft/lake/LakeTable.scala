package graft.lake

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.scheduler.ZombieTasks
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.QueryEngine

/** Spark-side table operations over a [[LakeLog]]: schema codec, insert with
  * real per-file statistics, snapshot/time-travel reads, stat-based file
  * pruning, and REAL compaction (the reference simulates its rewrite —
  * `pkg/coordinator/compaction_service.go:385-433` sleeps and fabricates
  * metrics; ours reads and rewrites the bytes).
  */
object LakeTable {

  /** Declared-type codec: the reference's 8 types
    * (`table_service.go:546-558`) ↔ Spark Catalyst types. */
  def toSparkType(t: String): DataType = t match {
    case "int32" => IntegerType
    case "int64" => LongType
    case "float32" => FloatType
    case "float64" => DoubleType
    case "string" => StringType
    case "boolean" => BooleanType
    case "date" => DateType
    case "timestamp" => TimestampType
    case "float32_array" => ArrayType(FloatType)
    case "float64_array" => ArrayType(DoubleType)
    case "int64_array" => ArrayType(LongType)
    case other => throw new LakeValidationException(s"unsupported type $other")
  }

  def fromSparkType(dt: DataType): String = dt match {
    case IntegerType => "int32"
    case LongType => "int64"
    case FloatType => "float32"
    case DoubleType => "float64"
    case StringType => "string"
    case BooleanType => "boolean"
    case DateType => "date"
    case TimestampType => "timestamp"
    case ArrayType(FloatType, _) => "float32_array"
    case ArrayType(DoubleType, _) => "float64_array"
    case ArrayType(LongType, _) => "int64_array"
    case other => throw new LakeValidationException(
      s"no declared type for Spark type $other")
  }

  def toStructType(s: TableSchema): StructType =
    StructType(s.fields.map(f => StructField(f.name, toSparkType(f.`type`),
      f.nullable)))

  def fromStructType(st: StructType): TableSchema =
    TableSchema(st.fields.toSeq.map(f =>
      Field(f.name, fromSparkType(f.dataType), f.nullable)))

  /** `partitionBy`: hive-style partition columns (see [[TableSchema]]) —
    * declared once here, enforced on every write. */
  def createTable(log: LakeLog, table: String, schema: StructType,
                  partitionBy: Seq[String] = Nil,
                  constraints: Map[String, String] = Map.empty,
                  bloomFilterCols: Seq[String] = Nil,
                  generatedColumns: Map[String, String] = Map.empty): Unit = {
    val sch = fromStructType(schema).copy(
      partition_columns = if (partitionBy.isEmpty) None else Some(partitionBy),
      check_constraints = if (constraints.isEmpty) None else Some(constraints),
      bloom_columns =
        if (bloomFilterCols.isEmpty) None else Some(bloomFilterCols),
      generated_columns =
        if (generatedColumns.isEmpty) None else Some(generatedColumns))
    validateBloomCols(sch, sch.bloomCols)
    log.createTable(table, sch)
  }

  /** GENERATED ALWAYS AS enforcement for a batch of NEW rows: absent
    * generated columns are computed from their expressions; provided ones
    * are validated row-by-row against the expression in one aggregate
    * (any mismatch rejects the whole batch before staging — Delta
    * semantics: a generated column cannot be forged). Returns the frame
    * with every generated column materialized (declared type enforced by
    * the caller's shaping select). */
  private def applyGenerated(table: String, sch: TableSchema,
                             df: DataFrame): DataFrame = {
    val gens = sch.generated
    if (gens.isEmpty) return df
    val st = toStructType(sch)
    val present = df.columns.toSet
    val provided = gens.filter { case (c, _) => present.contains(c) }.toSeq
    if (provided.nonEmpty) {
      val aggs = provided.map { case (c, e) =>
        val dt = st(c).dataType
        sum(when(!(col(c).cast(dt) <=> expr(e).cast(dt)), 1L)
          .otherwise(0L)).as(c)
      }
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      val bad = provided.map(_._1).sorted.flatMap { c =>
        val n = row.getAs[Long](c)
        if (n > 0) Some(s"$c (GENERATED ALWAYS AS ${gens(c)}): $n rows")
        else None
      }
      if (bad.nonEmpty) throw new LakeValidationException(
        s"generated-column mismatch on $table - ${bad.mkString("; ")}")
    }
    gens.foldLeft(df) { case (d, (c, e)) =>
      if (present.contains(c)) d
      else d.withColumn(c, expr(e).cast(st(c).dataType))
    }
  }

  /** A batch of NEW rows in the table's declared shape: generated columns
    * materialized ([[applyGenerated]]), every column cast to its declared
    * type and in declared order. */
  private def shape(table: String, sch: TableSchema,
                    df: DataFrame): DataFrame =
    applyGenerated(table, sch, df).select(toStructType(sch).fields.toSeq
      .map(f => col(f.name).cast(f.dataType)): _*)

  /** Enforce the table's CHECK constraints on a batch of NEW rows: one
    * aggregate pass counting per-constraint violations (row violates only
    * when the predicate is FALSE — NULL passes, per SQL CHECK). Throws
    * with every failing constraint and its row count; it runs as a probe
    * beside the staged write ([[stageWithProbes]]), so a rejected batch
    * leaves no trace in log or data.
    */
  private def enforceChecks(table: String, sch: TableSchema,
                            batch: DataFrame): Unit = {
    val checks = sch.checks
    if (checks.isEmpty) return
    val aggs = checks.toSeq.map { case (name, pred) =>
      sum(when(!coalesce(expr(pred), lit(true)), 1L).otherwise(0L)).as(name)
    }
    val row = batch.agg(aggs.head, aggs.tail: _*).head()
    val bad = checks.keys.toSeq.sorted.flatMap { n =>
      val c = row.getAs[Long](n)
      if (c > 0) Some(s"$n (${checks(n)}): $c rows") else None
    }
    if (bad.nonEmpty) throw new LakeValidationException(
      s"CHECK constraint violation on $table — ${bad.mkString("; ")}")
  }

  /** Column mapping (Delta-style): data files and their footer stats /
    * bloom sidecars are keyed by PHYSICAL column names — immutable from
    * column creation — while the API surface speaks logical names. The
    * two seams below are the whole mapping layer: [[physStruct]] turns a
    * logical struct into the on-file shape and [[toPhys]] renames an
    * outgoing frame at the write boundary. Reads alias physical → logical
    * inside [[readFiles]] and [[indexedScan]]; a predicate consulted against
    * file stats resolves through the latter's aliases
    * ([[candidateFiles]]). Both are identity for tables that never renamed
    * a column. */
  private def physStruct(st: StructType, sch: TableSchema): StructType =
    if (!sch.hasMapping) st
    else StructType(st.fields.map(f => f.copy(name = sch.physFor(f.name))))

  private def toPhys(df: DataFrame, sch: TableSchema): DataFrame =
    if (!sch.hasMapping) df
    else {
      val m = sch.physMap
      df.select(df.columns.toSeq.map(c =>
        col(c).as(m.getOrElse(c, c))): _*)
    }

  /** The schema physically stored in data files: declared schema minus
    * partition columns (those live only in the log's partition map). */
  private def dataStruct(st: StructType, partCols: Seq[String]): StructType =
    StructType(st.fields.filterNot(f => partCols.contains(f.name)))

  /** Basename of a data file path. DV sidecars key positions by basename:
    * promotion names embed a fresh UUID so basenames are unique within a
    * table (and [[deleteWhereMor]] asserts it before relying on it), which
    * sidesteps the `file:/` URI-rendering mismatch between log paths and
    * `_metadata.file_path`. */
  private[lake] def baseName(p: String): String =
    p.substring(p.lastIndexOf('/') + 1)

  /** DV sidecar schema: deleted parquet row indexes keyed by data-file
    * basename. */
  private[lake] val DvSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** Positions above which a DV anti-join stops broadcasting (≈64 MB of
    * (name, pos) rows). Selective deletes — the merge-on-read use case —
    * sit far below it; a bigger DV still reads correctly via a shuffled
    * anti-join, it just signals the file wants compaction. */
  private val DvBroadcastMaxPositions = 4L * 1000 * 1000

  /** The one reader of lake data files: `files` → rows of `sch`, logical
    * names in declared order. Every by-path read goes through here — the
    * lake stream source included, whose micro-batches are [[changeWindow]]
    * frames — so one rule decides how a file's bytes become rows:
    *   - files sharing a partition map read as one scan; each file's OWN
    *     logged map supplies its partition columns as literals
    *     (constant-folded — zero per-row cost), never the table's current
    *     spec, because under partition evolution
    *     ([[LakeLog.alterPartitioning]]) one snapshot mixes layouts and a
    *     file's bytes hold exactly (schema minus ITS OWN map's keys);
    *   - every other column reads by PHYSICAL name (see [[physStruct]]),
    *     aliased to its logical name;
    *   - deletion vectors are subtracted: DV'd files scan with the parquet
    *     row index exposed (`_metadata.row_index`) and anti-join their
    *     positions-only sidecars — broadcast while small, so the data side
    *     never shuffles.
    * With `rowIds` the DVs are NOT subtracted: every raw row comes back
    * with its `__file` (basename, the DV key) and `__pos` (row index) —
    * the position scans of [[deleteWhereMor]] and [[deletedRows]].
    * High-partition-count interactive reads prefer [[readIndexed]], which
    * exposes partition columns through the `FileIndex` instead of a union.
    */
  private[lake] def readFiles(spark: SparkSession, sch: TableSchema,
                              files: Seq[FileAdd],
                              rowIds: Boolean = false): DataFrame = {
    ParamScan.install(spark)
    val st = toStructType(sch)
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        if (!rowIds) st
        else st.add("__file", StringType, nullable = false)
          .add("__pos", LongType, nullable = false))
    files.groupBy(_.partition).toSeq.flatMap { case (pmap, group) =>
      val pSt = physStruct(dataStruct(st, pmap.keys.toSeq), sch)
      def scan(fs: Seq[FileAdd], withIds: Boolean): DataFrame = {
        val raw = spark.read.schema(pSt).parquet(fs.map(_.path): _*)
        if (!withIds) raw
        else raw.withColumn("__file",
            element_at(split(col("_metadata.file_path"), "/"), -1))
          .withColumn("__pos", col("_metadata.row_index"))
      }
      // physical scan → declared logical rows (identity, so no projection,
      // for a flat group of a table that never renamed a column)
      def rows(df: DataFrame): DataFrame =
        if (pmap.isEmpty && !sch.hasMapping) df
        else df.select(st.fields.toSeq.map(f => pmap.get(f.name) match {
          case Some(v) => lit(v).cast(f.dataType).as(f.name)
          case None => col(sch.physFor(f.name)).as(f.name)
        }) ++ (if (rowIds) Seq(col("__file"), col("__pos")) else Nil): _*)
      if (rowIds) Seq(rows(scan(group, withIds = true)))
      else {
        val (dvd, plain) = group.partition(_.dvRows > 0)
        val live = if (dvd.isEmpty) None else Some {
          val base = scan(dvd, withIds = true)
          val dvPaths = dvd.flatMap(_.dv.map(_.path)).distinct
          val names = dvd.map(f => baseName(f.path))
          // one sidecar can serve several files — restrict to THIS file set
          val dv0 = spark.read.schema(DvSchema).parquet(dvPaths: _*)
            .filter(col("file").isin(names: _*))
          val dvDf =
            if (dvd.map(_.dvRows).sum <= DvBroadcastMaxPositions)
              broadcast(dv0)
            else dv0
          rows(base.join(dvDf,
              base("__file") === dvDf("file") && base("__pos") === dvDf("pos"),
              "left_anti")
            .drop("__file", "__pos"))
        }
        (if (plain.isEmpty) None
         else Some(rows(scan(plain, withIds = false)))).toSeq ++ live
      }
    }.reduce(_ unionAll _)
  }

  /** Snapshot → DataFrame. Empty tables yield an empty, correctly-typed
    * DataFrame. Reads pass the declared schema so file-level surprises fail
    * loudly instead of schema-merging.
    */
  def read(spark: SparkSession, log: LakeLog, table: String,
           version: Long = 0L): DataFrame = {
    val snap = log.snapshot(table, version)
    readFiles(spark, log.schemaOf(snap), snap.files)
  }

  /** Catalyst-integrated read: the returned DataFrame prunes files by log
    * stats for WHATEVER filters later land on it — `.filter(...)`, SQL
    * WHERE, join pushdowns, the reference's 3-token grammar through
    * [[QueryEngine.parsePredicate]] — because a [[LakeFileIndex]] receives
    * the resolved predicates at planning time. This is the read path to
    * prefer.
    */
  def readIndexed(spark: SparkSession, log: LakeLog, table: String,
                  version: Long = 0L): DataFrame = {
    val snap = log.snapshot(table, version)
    val sch = log.schemaOf(snap)
    // DV'd files can't ride the FileIndex (their read is an anti-join, not
    // a scan): they union in via [[readFiles]] and rejoin the stat-pruned
    // fast path when compaction materializes their DVs. The untouched
    // majority of a big table keeps full planning-time pruning.
    // LEGACY-SPEC files (written before an alterPartitioning) take the
    // same detour: the FileIndex speaks one partition schema — the
    // current spec — and a legacy file's physical columns differ; its
    // partition values reattach as per-group literals instead (filters
    // on them still constant-fold group-wise at planning time).
    val curSpec = sch.partCols.toSet
    val (plain, detour) = snap.files.partition(f =>
      f.dvRows == 0 && f.partition.keySet == curSpec)
    if (plain.isEmpty) readFiles(spark, sch, detour)
    else {
      val indexed = indexedScan(spark, snap.copy(files = plain), sch)
      if (detour.isEmpty) indexed
      else indexed.unionAll(readFiles(spark, sch, detour))
    }
  }

  /** The scan [[readIndexed]] plans over `snap`'s files: a
    * [[LakeFileIndex]] relation speaking PHYSICAL column names (what the
    * files and the log's stats contain), aliased to the declared logical
    * columns in declared order. Filters pushed through the aliases arrive
    * at the index already rewritten to physical attributes, so stat
    * pruning stays consistent under column mapping. */
  private def indexedScan(spark: SparkSession, snap: Snapshot,
                          sch: TableSchema): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    ParamScan.install(spark)
    val st = toStructType(sch)
    val partSt = StructType(sch.partCols.map(c => st(c)))
    val relation = HadoopFsRelation(
      location = new LakeFileIndex(spark, snap, physStruct(st, sch), partSt),
      partitionSchema = partSt,
      dataSchema = physStruct(dataStruct(st, sch.partCols), sch),
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    // Spark appends partition columns after data columns — restore the
    // declared order (and the logical names)
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
      .baseRelationToDataFrame(relation)
      .select(st.fieldNames.toSeq.map(n => col(sch.physFor(n)).as(n)): _*)
  }

  /** `pred` as the stat-comparable conjuncts a read of `snap` filtered by
    * it hands [[LakeFileIndex]]: resolved against [[indexedScan]]'s
    * aliases, then the filter the optimizer pushes onto the relation —
    * typed, constant-folded, over physical columns (and partition columns,
    * whose synthesized min = max stats prune the same way). Plans, runs no
    * Spark job. An unresolvable predicate fails here as the op's own read
    * of it would; one the optimizer cannot push yields no conjuncts, which
    * keeps every file. */
  private[lake] def pushedFilters(spark: SparkSession, snap: Snapshot,
                                  pred: Column): Seq[Expression] = {
    val filtered = indexedScan(spark, snap, snap.schema.get).filter(pred)
    try filtered.queryExecution.optimizedPlan.collectFirst {
      case Filter(cond, _: LogicalRelation) => cond
    }.toSeq
    catch { case NonFatal(_) => Nil }
  }

  /** The files of `snap` that might hold a row where `pred` is true — the
    * candidate set of every predicate-scoped write: DELETE, UPDATE,
    * replaceWhere and `OPTIMIZE … WHERE` prune exactly as a read filtered
    * by the same predicate would. */
  private[lake] def candidateFiles(spark: SparkSession, snap: Snapshot,
                                   pred: Column): Seq[FileAdd] =
    if (snap.files.isEmpty) Nil
    else LakeFileIndex.prune(snap.files, pushedFilters(spark, snap, pred))

  /** Columns eligible for min/max stats (atomic comparable types). */
  private def statCols(st: StructType): Seq[StructField] =
    st.fields.toSeq.filter(f => f.dataType match {
      case IntegerType | LongType | FloatType | DoubleType | StringType |
           DateType | TimestampType | BooleanType => true
      case _ => false
    })

  /** Write `df` into the table: stage parquet under `_tmp/<txn>/`, compute
    * REAL per-file rows/size/min-max in one Spark pass (fixing the
    * reference's placeholder stats, `table_service.go:416-425`), promote to
    * `data/part-NNNNN-<uuid>.parquet`, and OCC-commit the adds with retry —
    * the `POST /tables/{t}/data` path (`table_service.go:121-244`).
    *
    * `numFiles > 1` pre-partitions the write so a large insert parallelizes;
    * promotion is rename-only (same filesystem), so the data is written once.
    */
  def insert(spark: SparkSession, log: LakeLog, table: String, df: DataFrame,
             txnId: String = UUID.randomUUID().toString,
             numFiles: Int = 1,
             clusterBy: Seq[String] = Nil,
             zOrderBy: Seq[String] = Nil,
             maxAttempts: Int = 3,
             bloomCols: Seq[String] = Nil,
             curve: String = "morton"): CommitResult = {
    // early idempotency check: a redelivered transaction (streaming batch
    // replay, client retry) must not re-stage data files
    log.committedVersion(table, txnId).foreach(v =>
      return CommitResult(v, duplicate = true))
    val adds = stageFiles(spark, log, table, df, txnId, numFiles,
      clusterBy, zOrderBy, bloomCols, curve)
    commitStaged(log, table, txnId, adds, maxAttempts)(appendOnly).get
  }

  /** Insert independent `slices` as SEPARATE commits whose version order,
    * per-version contents and txn ids are identical to calling [[insert]]
    * once per slice in order — only the wall-clock schedule changes: the
    * slices stage concurrently and commit in slice order
    * ([[stageAllCommitInOrder]]), so readers of any version, the change
    * feed and time travel see byte-identical history. A failure leaves no
    * uncommitted slice behind; commits already applied stay, exactly like
    * a sequential loop that threw partway. */
  def insertAll(spark: SparkSession, log: LakeLog, table: String,
                slices: Seq[(DataFrame, String)],
                numFiles: Int = 1,
                maxAttempts: Int = 3): Seq[CommitResult] = {
    // replayed txn ids (streaming batch redelivery, client retry) must not
    // re-stage data files — same early check as insert()
    val dup = slices.map { case (_, txnId) => log.committedVersion(table, txnId) }
    val fresh = stageAllCommitInOrder(log, table, maxAttempts,
      slices.zip(dup).collect { case ((df, txnId), None) =>
        (txnId, () => stageFiles(spark, log, table, df, txnId, numFiles),
          appendOnly)
      }).iterator.map(_._2.get)
    dup.map {
      case Some(v) => CommitResult(v, duplicate = true)
      case None => fresh.next()
    }
  }

  /** Stage `df` as promoted, stat'd data files — everything [[insert]]
    * does SHORT of the commit. The returned [[FileAdd]]s sit in the
    * table's data dir but are invisible to every reader until a commit
    * adopts them (that separation is what [[Wap]] builds write-audit-
    * publish on); discard unadopted files with [[discardAdds]]. */
  private[lake] def stageFiles(spark: SparkSession, log: LakeLog,
             table: String, df: DataFrame, txnId: String,
             numFiles: Int = 1,
             clusterBy: Seq[String] = Nil,
             zOrderBy: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil,
             curve: String = "morton"): Seq[FileAdd] = {
    val sch = log.snapshot(table).schema.get
    val shaped = shape(table, sch, df)
    // persist whenever ANOTHER job will consume `shaped` before the
    // staged write: the CHECK-violation aggregate and the z-order range
    // aggregate each execute the caller's (possibly expensive) upstream
    // query — unpersisted, the write would run it a second time
    val checksOn = sch.checks.nonEmpty
    val reused = checksOn || zOrderBy.nonEmpty
    if (reused) shaped.persist()
    try {
      // clusterBy = the reference's hash-partitioned sink
      // (`worker/src/parquet_writer.rs:182-234`): rows hash-routed by key
      // into numFiles files, so equal keys co-locate — narrows each file's
      // min/max stats and makes point-predicate file pruning effective.
      // zOrderBy = multi-dimensional clustering: range-partition + sort by
      // an interleaved-bit curve value, so EVERY listed column gets tight
      // per-file min/max ranges and [[LakeFileIndex]] prunes on any of them.
      val arranged =
        if (zOrderBy.nonEmpty) {
          val z = ZOrder.curveValue(spark, shaped, zOrderBy, curve)
          shaped.withColumn("__z", z)
            .repartitionByRange(math.max(1, numFiles), col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
        }
        else if (clusterBy.nonEmpty)
          shaped.repartition(numFiles, clusterBy.map(col): _*)
        else if (numFiles > 1) shaped.repartition(numFiles)
        else shaped.coalesce(1)
      // the CHECK aggregate overlaps the staged write; a violation still
      // rejects the batch, its staged files reclaimed
      val blooms = validateBloomCols(sch, (sch.bloomCols ++ bloomCols).distinct)
      stageWithProbes(Seq(() => stage(spark, log, table, sch)(arranged,
          txnId, bloomCols = blooms)),
        if (checksOn) Seq(() => enforceChecks(table, sch, shaped)) else Nil)
        .head
    } finally if (reused) shaped.unpersist()
  }

  /** Atomically REPLACE the table's contents with `df`: stage the new
    * files, then ONE commit removes every currently-live file and adds the
    * staged ones. Readers see either the old state or the new state, never
    * an empty intermediate — which is why full materialized-view refreshes
    * go through this instead of composing deleteWhere + insert (two
    * commits: a crash or a racing writer between them could leave the
    * table empty with the work's txn already spent). Duplicate txn ids
    * replay as no-ops like every other write.
    */
  def overwrite(spark: SparkSession, log: LakeLog, table: String,
                df: DataFrame,
                txnId: String = UUID.randomUUID().toString,
                numFiles: Int = 1,
                maxAttempts: Int = 3): CommitResult = {
    log.committedVersion(table, txnId).foreach(v =>
      return CommitResult(v, duplicate = true))
    val adds = stageFiles(spark, log, table, df, txnId, numFiles)
    commitStaged(log, table, txnId, adds, maxAttempts) { fresh =>
      Some(fresh.files.map(_.path))
    }.get
  }

  /** Bloom columns must be real data columns with a canonical string
    * rendering — never partition columns (their values prune via the
    * partition map already). */
  private def validateBloomCols(sch: TableSchema, bloomCols: Seq[String])
      : Seq[String] = {
    bloomCols.foreach { c =>
      val f = sch.fields.find(_.name == c).getOrElse(
        throw new LakeValidationException(s"bloom column $c is not a schema field"))
      if (sch.partCols.contains(c))
        throw new LakeValidationException(
          s"bloom column $c is a partition column (already pruned exactly)")
      if (!BloomSkip.SupportedTypes.contains(f.`type`))
        throw new LakeValidationException(
          s"bloom column $c has type '${f.`type`}' without a canonical " +
            "string rendering (supported: string, int32, int64)")
    }
    bloomCols
  }

  /** The one staged parquet write every data mutation goes through:
    * `arranged` — already coalesced, repartitioned or z-ordered by the
    * caller, since that differs per op — is written under a fresh
    * `_tmp/<tag>-…` dir and promoted by [[statAndPromote]], and the dir is
    * deleted however the write ends, so a throwing write leaves no staging
    * behind — once no task of a failed stage still runs ([[ZombieTasks]]).
    * Columns whose value `partition` presets are not in the frame
    * (compaction's flat group write); the rest of `partCols` are written
    * as hive-style `col=value/` dirs. */
  private def stage(spark: SparkSession, log: LakeLog, table: String,
                    sch: TableSchema)(
      arranged: DataFrame, tag: String,
      rewrite: Boolean = false,
      partCols: Seq[String] = sch.partCols,
      partition: Map[String, String] = Map.empty,
      bloomCols: Seq[String] = sch.bloomCols): Seq[FileAdd] = {
    LocalFs.install(spark)
    val tmp = log.tmpDir(table, tag)
    try {
      withStatFriendlyWrites(spark) {
        toPhys(arranged, sch)
          .write.mode("overwrite").option("compression", "snappy")
          .partitionBy(partCols.filterNot(partition.contains): _*)
          .parquet(tmp.toString)
      }
      statAndPromote(spark, log, table, tmp, sch, toStructType(sch),
        rewrite, partCols, partition, bloomCols)
    } catch { case e: Throwable =>
      ZombieTasks.await(spark.sparkContext)
      throw e
    } finally deleteRecursively(tmp)
  }

  /** Promote staged parquet into `data/`, computing per-file row count +
    * min/max stats from the parquet FOOTERS ([[FooterStats]]) — O(#files)
    * metadata reads, no re-scan of the data that was just written. Zero-row
    * part files (Spark writes them on over-partitioned small data) are
    * dropped, never committed.
    *
    * Partitioned tables: the staged dir carries hive-style `col=value/`
    * subdirs (from `.partitionBy` writes); values are parsed into the
    * [[FileAdd]] partition map and the promoted file is FLAT — partition
    * placement lives only in the log. `partition` pre-sets the map when the
    * staged write was not `.partitionBy` (compaction merges one partition's
    * files and already knows their shared values). Every partition column
    * also gets synthesized `min = max = value` stats, so the stat-based
    * pruners skip partitions with no extra machinery.
    */
  private def statAndPromote(spark: SparkSession, log: LakeLog, table: String,
                             staged: Path, sch: TableSchema, st: StructType,
                             rewrite: Boolean = false,
                             partCols: Seq[String] = Nil,
                             partition: Map[String, String] = Map.empty,
                             bloomCols: Seq[String] = Nil)
      : Seq[FileAdd] = {
    // staged files carry PHYSICAL column names: stats and bloom sidecars
    // are keyed by them (the log's storage-side convention)
    val cols = statCols(physStruct(dataStruct(st, partCols), sch))
    val physBloomCols = bloomCols.map(sch.physFor)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val parts = stagedParts(staged)

    // one Spark job builds every (file, column) bloom over the staged dir;
    // keyed by decoded local path so the per-file move below can look up
    val blooms: Map[String, Map[String, Array[Byte]]] =
      if (bloomCols.isEmpty || parts.isEmpty) Map.empty
      else BloomSkip.build(spark,
        spark.read.parquet(staged.toString), physBloomCols)
        .map { case (uri, m) => new java.net.URI(uri).getPath -> m }

    val dataDir = log.dataDir(table)
    Files.createDirectories(dataDir)
    // footer metadata reads are independent driver-side I/O — overlap them
    // (each is an open+seek+parse; sequential they serialize behind the
    // write job on every DML op)
    val footerStats = {
      val arr = new Array[(Long, Map[String, String], Map[String, String],
        Map[String, Long])](parts.size)
      inParallel(parts.zipWithIndex.map { case (src, i) => () =>
        arr(i) = FooterStats.read(hadoopConf, src, cols, tz); ()
      })
      arr
    }
    parts.zipWithIndex.flatMap { case (src, i) =>
      val (rows, minVals, maxVals, nullCounts) = footerStats(i)
      if (rows == 0L) None
      else {
        val partMap = partition ++ parsePartitionDirs(staged, src)
        partCols.foreach(c => if (!partMap.contains(c))
          throw new LakeValidationException(
            s"staged file $src carries no value for partition column $c " +
              "(null partition values are not supported)"))
        val synth = partCols.map(c => c -> partMap(c))
        // partition values are non-null by construction
        val synthNulls = partCols.map(c => c -> 0L)
        val fileBlooms = blooms.get(src.toAbsolutePath.toString)
          .filter(_.nonEmpty)
        val dest = dataDir.resolve(
          f"part-$i%05d-${UUID.randomUUID().toString}.parquet")
        Files.move(src, dest, StandardCopyOption.ATOMIC_MOVE)
        // sketches ride as a sidecar sharing the data file's lifecycle —
        // the log records only WHICH columns have one (see BloomSkip)
        fileBlooms.foreach(bs => BloomSkip.writeSidecar(dest, bs))
        Some(FileAdd(dest.toString, rows = rows, size = Files.size(dest),
          partition = partMap,
          stats = Some(FileStats(minVals ++ synth, maxVals ++ synth,
            blooms = fileBlooms.map(_.keys.toSeq.sorted),
            null_counts = Some(nullCounts ++ synthNulls))),
          rewrite = rewrite))
      }
    }
  }

  /** The parquet part files a Spark write left under `staged`, in path
    * order (its `_SUCCESS` marker and `.crc` files excluded). */
  private def stagedParts(staged: Path): List[Path] = {
    val walk = Files.walk(staged)
    try walk.iterator().asScala.toList.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.endsWith(".parquet") &&
        !n.startsWith(".") && !n.startsWith("_")
    }.sortBy(_.toString) finally walk.close()
  }

  /** `col=value` components of `file`'s path below `staged`, hive-unescaped.
    * Rejects the null-partition sentinel: partition values must be non-null
    * (their directory encoding is otherwise ambiguous). */
  private def parsePartitionDirs(staged: Path, file: Path)
      : Map[String, String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val rel = staged.relativize(file)
    (0 until rel.getNameCount - 1).map(rel.getName(_).toString)
      .filter(_.contains("=")).map { seg =>
        val Array(k, v) = seg.split("=", 2)
        val value = ExternalCatalogUtils.unescapePathName(v)
        if (value == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
          throw new LakeValidationException(
            s"partition column $k has a null value — not supported")
        k -> value
      }.toMap
  }

  /** Parquet footers only carry timestamp statistics for INT64 physical
    * encodings — pin the writer away from stat-less INT96 for the duration
    * of a staged write so [[FooterStats]] sees them, then restore the
    * session's setting (leaking it would silently change how OTHER parquet
    * writes on the session encode timestamps). */
  // reference-counted so CONCURRENT writers on the shared session compose:
  // a naive set/restore pair races (T1 restores while T2 still writes, or
  // T2 "restores" T1's temporary value and leaks MICROS session-wide).
  // Assumes one driver-side session, which is this control plane's model.
  private val statConfLock = new Object
  private var statConfDepth = 0
  private var statConfPrev: Option[String] = None
  private def withStatFriendlyWrites[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    statConfLock.synchronized {
      if (statConfDepth == 0) {
        statConfPrev = spark.conf.getOption(key)
        spark.conf.set(key, "TIMESTAMP_MICROS")
      }
      statConfDepth += 1
    }
    try body
    finally statConfLock.synchronized {
      statConfDepth -= 1
      if (statConfDepth == 0) statConfPrev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Run independent Spark actions on fresh threads and join — the
    * back-fill overlap for a DML op's independent staged writes (survivor
    * rewrite vs new-rows file): each action's driver-side planning overlaps
    * the other's execution, and neither job's task tail leaves the cores
    * idle. Fresh threads (not a shared pool) so Spark's inheritable
    * thread-locals (job group/description) propagate from the caller.
    * The first failure propagates after all tasks finish (no half-staged
    * state is observable anyway — nothing is committed until promote). */
  private[graft] def inParallel(tasks: Seq[() => Unit],
                                maxThreads: Int = 16): Unit = tasks match {
    case Seq() => ()
    case Seq(one) => one()
    case many =>
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      // bounded fan-out: at most `maxThreads` fresh threads, tasks beyond
      // that run round-robin within a thread — a wide ANALYZE or a large
      // staged file set must not spawn one thread (and one concurrent
      // Spark job) per task
      val groups = many.zipWithIndex.groupBy(_._2 % maxThreads)
        .toSeq.sortBy(_._1).map(_._2.map(_._1))
      val threads = groups.map(g => new Thread(() =>
        g.foreach(t => try t() catch { case e: Throwable => errs.add(e) })))
      threads.foreach(_.start())
      threads.foreach(_.join())
      if (!errs.isEmpty) {
        // surface every failure, not just the first (diagnostics); Spark
        // fails every job that depends on a failed stage with ONE object
        val first = errs.poll()
        errs.forEach(e => if (e ne first) first.addSuppressed(e))
        throw first
      }
  }

  /** Delete promoted-but-never-committed data files (commit threw, aborted,
    * or lost an idempotency race): without this they are referenced by no
    * log entry, invisible to vacuum, and leak forever. */
  private[lake] def discardAdds(adds: Seq[FileAdd]): Unit =
    adds.foreach { a =>
      try {
        Files.deleteIfExists(java.nio.file.Paths.get(a.path))
        Files.deleteIfExists(
          java.nio.file.Paths.get(BloomSkip.sidecarPath(a.path)))
      } catch { case _: java.io.IOException => () }
    }

  /** The one commit tail of every lake data mutation: an OCC commit (with
    * retry) of the staged `adds` plus the removes `plan` returns against
    * each fresh snapshot — None when the op's inputs changed under it,
    * which aborts the commit and returns None. The staged files are
    * reclaimed whenever no version ends up referencing them: the commit
    * threw before its entry became durable, the plan aborted, or a
    * concurrent writer already committed this txn id. `reclaim` replaces
    * [[discardAdds]] for an op whose adds are not staged files (the
    * merge-on-read delete re-adds live files; its staged artifact is the
    * DV sidecar). */
  private def commitStaged(log: LakeLog, table: String, txnId: String,
                           adds: Seq[FileAdd], maxAttempts: Int = 3,
                           reclaim: Option[() => Unit] = None)(
      plan: Snapshot => Option[Seq[String]]): Option[CommitResult] = {
    val drop = reclaim.getOrElse(() => discardAdds(adds))
    try {
      val res = log.commitWithRetry(table, txnId, maxAttempts)(fresh =>
        plan(fresh).map(adds -> _))
      if (res.forall(_.duplicate)) drop()
      res
    } catch { case e: Throwable =>
      // a throw can land after the entry became durable (the ambiguous
      // commit): reclaim only when the txn map shows this txn id did not
      // commit; when even that read fails, keep the files
      val committed =
        try log.committedVersion(table, txnId).isDefined
        catch { case s: Throwable => e.addSuppressed(s); true }
      if (!committed) drop()
      throw e
    }
  }

  /** The staged `writes` and the `probes` (CHECK aggregates, report
    * counts, throwing guards) overlapped on one [[inParallel]]; a failure
    * anywhere reclaims every write that promoted, then propagates. */
  private def stageWithProbes(writes: Seq[() => Seq[FileAdd]],
                              probes: Seq[() => Unit]): Seq[Seq[FileAdd]] = {
    val staged = Array.fill(writes.size)(Seq.empty[FileAdd])
    try inParallel(probes ++ writes.zipWithIndex.map { case (w, i) =>
      () => staged(i) = w() })
    catch { case e: Throwable => staged.foreach(discardAdds); throw e }
    staged.toSeq
  }

  /** [[commitStaged]] for many independent units (txn id, staged write,
    * plan): every unit stages concurrently (disjoint attempt dirs, UUID
    * promote names; the write tails back-fill each other),
    * then the units commit one at a time in order, so version numbering,
    * per-version contents and conflict behavior are exactly a sequential
    * loop's. Returns each unit's adds with its commit (None: its plan
    * aborted). A failure anywhere reclaims every staged-but-uncommitted
    * unit; commits already applied stay, exactly like a sequential loop
    * that threw partway. */
  private def stageAllCommitInOrder(log: LakeLog, table: String,
      maxAttempts: Int,
      units: Seq[(String, () => Seq[FileAdd], Snapshot => Option[Seq[String]])])
      : Seq[(Seq[FileAdd], Option[CommitResult])] = {
    val staged = stageWithProbes(units.map(_._2), Nil).toArray
    try units.zipWithIndex.map { case ((txnId, _, plan), i) =>
      val adds = staged(i)
      staged(i) = null // committed or reclaimed by the tail from here on
      adds -> commitStaged(log, table, txnId, adds, maxAttempts)(plan)
    } catch { case e: Throwable =>
      staged.filter(_ != null).foreach(discardAdds)
      throw e
    }
  }

  /** Plan of an append: nothing to remove, nothing to guard. */
  private val appendOnly: Snapshot => Option[Seq[String]] = _ => Some(Nil)

  /** Plan of a rewrite: remove `inputs`, provided every one is still live
    * with the SAME deletion vector. The dv ref is part of the guard
    * because a concurrent merge-on-read delete keeps a file's path but
    * changes the rows it holds — a rewrite of the rows read earlier would
    * silently undo it. Otherwise None: the inputs changed, abort. */
  private def removeIfUnchanged(inputs: Seq[FileAdd])
      : Snapshot => Option[Seq[String]] = fresh => {
    val live = fresh.files.map(f => f.path -> f.dv).toMap
    if (inputs.forall(f => live.get(f.path).contains(f.dv)))
      Some(inputs.map(_.path))
    else None
  }

  private def lostInputs(op: String): Nothing =
    throw new CommitConflictException(
      s"$op lost its input files to a concurrent commit")

  /** What [[rewriteRows]] committed: survivor files, new-row files. */
  private final case class RowWrite(kept: Seq[FileAdd], added: Seq[FileAdd],
                                    result: CommitResult)

  /** The one transaction of every copy-on-write row write (DELETE, UPDATE,
    * replaceWhere, upsert, MERGE): the survivors of `inputs` (by-name, run
    * on the rewrite's own thread) rewrite as layout (`rewrite = true`,
    * invisible to the change feed) under `_tmp/<txn>-rw-…`, `newRows` stage
    * as logical adds under `_tmp/<txn>-new-…`, overlapped with the
    * `probes` ([[stageWithProbes]]). ONE commit then removes the inputs if
    * each is still live with the same DV and `guard` holds on the fresh
    * snapshot; otherwise the op lost its inputs and throws. */
  private def rewriteRows(spark: SparkSession, log: LakeLog, table: String,
                          sch: TableSchema, txnId: String, op: String,
                          maxAttempts: Int = 3)(
      inputs: => Seq[FileAdd],
      survivors: Seq[FileAdd] => DataFrame,
      newRows: Option[DataFrame] = None,
      probes: Seq[() => Unit] = Nil,
      guard: Snapshot => Boolean = _ => true): RowWrite = {
    lazy val in = inputs
    val staged = stageWithProbes(
      (() => if (in.isEmpty) Nil else stage(spark, log, table, sch)(
        survivors(in).coalesce(in.size), s"$txnId-rw", rewrite = true)) +:
        newRows.toSeq.map(df => () =>
          stage(spark, log, table, sch)(df, s"$txnId-new")),
      probes)
    val (kept, added) = (staged.head, staged.drop(1).flatten)
    val result = commitStaged(log, table, txnId, kept ++ added, maxAttempts)(
      cur => removeIfUnchanged(in)(cur).filter(_ => guard(cur)))
      .getOrElse(lostInputs(op))
    RowWrite(kept, added, result)
  }

  /** Load an external file into the table — the reference's insert/load
    * source (`pkg/coordinator/table_service.go:121-244`: external file →
    * `_tmp/<txn>/` parquet → commit). Formats: parquet, csv (with header),
    * json — each read with the table's declared schema so malformed input
    * fails at load, not at query time.
    */
  def load(spark: SparkSession, log: LakeLog, table: String, path: String,
           format: String = "parquet",
           txnId: String = UUID.randomUUID().toString): CommitResult = {
    val st = toStructType(log.snapshot(table).schema.get)
    val reader = spark.read.schema(st)
    val df = format match {
      case "parquet" => reader.parquet(path)
      case "csv" => reader.option("header", "true").csv(path)
      case "json" => reader.json(path)
      case other => throw new LakeValidationException(
        s"unsupported load format: $other")
    }
    insert(spark, log, table, df, txnId)
  }

  /** Inline JSON-rows insert — the reference's `POST /tables/{t}/insert`
    * accepts inline records but is a STUB that returns success WITHOUT
    * writing anything (`rest_api.go:689-707`); the golden test inserts its 9
    * rows through it. This is the real implementation: rows parsed with the
    * table's declared schema (malformed JSON fails the txn, not the query),
    * then the standard staged-commit insert path.
    */
  def insertJson(spark: SparkSession, log: LakeLog, table: String,
                 jsonRows: Seq[String],
                 txnId: String = UUID.randomUUID().toString): CommitResult = {
    import spark.implicits._
    val st = toStructType(log.snapshot(table).schema.get)
    val df = spark.read.schema(st)
      .option("mode", "FAILFAST")
      .json(spark.createDataset(jsonRows))
    insert(spark, log, table, df, txnId)
  }

  /** Compaction thresholds from `pkg/coordinator/compaction_service.go:59-74`
    * and trigger rule from `:314-332`. */
  /** `zOrderBy`: re-sort each compacted group by the Morton curve so
    * clustering (and with it multi-column file pruning) survives
    * compaction — merging z-ordered small files unsorted would widen every
    * file's min/max back toward the full range. */
  /** `dvRewriteFraction`: a file whose deletion vector covers at least this
    * fraction of its rows is rewritten (DV materialized) even when it is not
    * small — merge-on-read reads stay cheap only while DVs stay sparse. */
  final case class CompactionConfig(minFileSize: Long = 10L * 1024 * 1024,
                                    maxFileSize: Long = 128L * 1024 * 1024,
                                    minFilesCount: Int = 3,
                                    smallBytesTriggerRatio: Double = 0.10,
                                    zOrderBy: Seq[String] = Nil,
                                    dvRewriteFraction: Double = 0.10,
                                    curve: String = "morton")

  final case class CompactionReport(groupsPlanned: Int, groupsCommitted: Int,
                                    filesRemoved: Int, filesAdded: Int,
                                    finalVersion: Long)

  /** A file joins a compaction group only while it is at most this many
    * times the group's smallest file (the size tiers of the LSM-tree). */
  private val TierRatio = 2L

  /** Plan, size-tiered: candidates = files < minFileSize, sorted by size
    * ascending; a file joins the open group only while it is at most
    * [[TierRatio]]× the group's smallest file and the group's total stays
    * ≤ maxFileSize; only groups of ≥ minFilesCount files qualify. The
    * reference bin-packs every small file together
    * (`compaction_service.go:160-200`), so each OPTIMIZE of a table under
    * minFileSize rewrites the whole table again, and its output's key
    * stats span every key for the DML that follows. Under tiers a file is
    * merged again only with files of its own size, so each byte is
    * rewritten O(log N) times over N appends.
    */
  def planCompaction(snap: Snapshot, cfg: CompactionConfig): Seq[Seq[FileAdd]] = {
    val candidates = snap.files.filter(_.size < cfg.minFileSize)
      .sortBy(f => (f.size, f.path))
    val groups = scala.collection.mutable.ArrayBuffer[Seq[FileAdd]]()
    var current = scala.collection.mutable.ArrayBuffer[FileAdd]()
    var currentSize = 0L
    candidates.foreach { c =>
      if (current.nonEmpty && (c.size > TierRatio * current.head.size ||
          currentSize + c.size > cfg.maxFileSize)) {
        if (current.size >= cfg.minFilesCount) groups += current.toSeq
        current = scala.collection.mutable.ArrayBuffer(c)
        currentSize = c.size
      } else { current += c; currentSize += c.size }
    }
    if (current.size >= cfg.minFilesCount) groups += current.toSeq
    groups.toSeq
  }

  /** Should compaction run at all? Small-file bytes above the trigger ratio
    * of total table bytes (`compaction_service.go:314-332`), or any file
    * whose deletion vector has punched out enough of it that the
    * merge-on-read anti-join is no longer worth carrying. */
  def compactionNeeded(snap: Snapshot, cfg: CompactionConfig): Boolean = {
    val total = snap.files.map(_.size).sum
    val small = snap.files.filter(_.size < cfg.minFileSize).map(_.size).sum
    (total > 0 && small.toDouble / total > cfg.smallBytesTriggerRatio) ||
      snap.files.exists(needsDvRewrite(_, cfg))
  }

  /** A DV'd file wants its holes materialized once the deleted fraction
    * crosses the threshold (Delta's `merge-on-read → rewrite` heuristic). */
  private def needsDvRewrite(f: FileAdd, cfg: CompactionConfig): Boolean =
    f.dvRows > 0 &&
      f.dvRows.toDouble / math.max(1L, f.rows) >= cfg.dvRewriteFraction

  /** Real compaction: per group, rewrite the parquet bytes into one file and
    * atomically commit (removes = inputs, adds = output) with OCC retry ×3.
    * On conflict the group is re-validated against the fresh snapshot and
    * skipped if any input vanished (`compaction_service.go:745-820`
    * semantics). Queries pinned to older versions keep seeing the removed
    * files — snapshot isolation (Property 30) — because data files are never
    * deleted here (a separate VACUUM would do that after a retention window).
    */
  def compact(spark: SparkSession, log: LakeLog, table: String,
              cfg: CompactionConfig = CompactionConfig(),
              force: Boolean = false,
              where: Option[String] = None): CompactionReport = {
    val snap = log.snapshot(table)
    if (!force && !compactionNeeded(snap, cfg))
      return CompactionReport(0, 0, 0, 0, snap.version)
    val sch = snap.schema.get
    val st = toStructType(sch)
    // OPTIMIZE ... WHERE: restrict the candidate set to files the
    // predicate can touch (log stats / partition values — zero data I/O).
    // At 100 TB "optimize yesterday's partition" must price as that
    // partition; scoping happens HERE so grouping, DV materialization and
    // the trigger heuristics all see only the scoped files. Commit
    // validation below still runs against the fresh FULL snapshot.
    val scopedFiles = where match {
      case Some(p) =>
        candidateFiles(spark, snap, QueryEngine.parsePredicate(p))
      case None => snap.files
    }
    // a compaction group never crosses partition boundaries — merging files
    // of different partition values would break partition placement. The
    // key is each file's OWN partition map (not the current spec): under
    // partition evolution a snapshot mixes layouts, and compaction
    // preserves each file's spec (Iceberg rewrites within a spec too) —
    // a legacy group's output keeps the legacy map
    val sizeGroups = scopedFiles.groupBy(_.partition)
      .values.toSeq.sortBy(_.head.path)
      .flatMap(fs => planCompaction(snap.copy(files = fs), cfg))
    // DV materialization: files over the deleted-fraction threshold (or any
    // DV'd file under force) rewrite as singleton groups — the DV-aware
    // merge read below drops the holes, and the fresh add carries no DV
    val inSizeGroups = sizeGroups.flatten.map(_.path).toSet
    val dvGroups = scopedFiles
      .filter(f => !inSizeGroups.contains(f.path) &&
        (needsDvRewrite(f, cfg) || (force && f.dvRows > 0)))
      .sortBy(_.path).map(Seq(_))
    val groups = sizeGroups ++ dvGroups
    // each group is one unit of the in-order loop: staged concurrently,
    // committed in group order; a group whose inputs changed under it
    // (compacted, removed or re-deleted concurrently) is skipped and its
    // rewrite, bloom sidecars included, reclaimed
    val results = stageAllCommitInOrder(log, table, maxAttempts = 3,
      groups.map { group =>
        val txnId = s"compact-${UUID.randomUUID().toString}"
        val stageGroup = () => {
          // the group shares one partition map: merge its rows (minus any
          // DV'd positions — a compacted file materializes its deletes)
          // without the map's columns, and carry the map through to the
          // new FileAdd. Physical layout follows the GROUP's spec, not the
          // current one
          val gPartCols = st.fieldNames.toSeq
            .filter(group.head.partition.contains)
          val merged = readFiles(spark, sch, group).drop(gPartCols: _*)
          // partition columns are constant within a group — drop them from
          // the z-order key (they're not in the data files either)
          val zCols = cfg.zOrderBy.filterNot(gPartCols.contains)
          val rewritten =
            if (zCols.nonEmpty)
              merged.withColumn("__z",
                  ZOrder.curveValue(spark, merged, zCols, cfg.curve))
                .coalesce(1).sortWithinPartitions("__z").drop("__z")
            else merged.coalesce(1)
          stage(spark, log, table, sch)(rewritten, txnId, rewrite = true,
            partCols = gPartCols, partition = group.head.partition)
        }
        (txnId, stageGroup, removeIfUnchanged(group))
      })
    val done = groups.zip(results).collect {
      case (group, (adds, Some(_))) => (group.size, adds.size)
    }
    CompactionReport(groups.size, done.size, done.map(_._1).sum,
      done.map(_._2).sum, log.latestVersion(table))
  }

  final case class DeleteReport(filesRewritten: Int, filesUntouched: Int,
                                rowsDeleted: Long, version: Long)

  /** DELETE WHERE — beyond the reference (which has no row deletion):
    * copy-on-write at file granularity. Only files whose min/max stats admit
    * matching rows are rewritten (the others are untouched log entries —
    * zero I/O); each rewritten file is replaced by its retained rows in one
    * OCC commit, so readers see the delete atomically and old versions time
    * travel to the pre-delete data. Predicate is the 3-token grammar or any
    * Spark SQL expression; the candidates are the files a read filtered by
    * it would scan ([[candidateFiles]]).
    */
  def deleteWhere(spark: SparkSession, log: LakeLog, table: String,
                  predicate: String,
                  txnId: String = UUID.randomUUID().toString): DeleteReport = {
    log.committedVersion(table, txnId).foreach(v =>
      return DeleteReport(0, 0, 0, v))
    val snap = log.snapshot(table)
    val sch = snap.schema.get
    val pred = QueryEngine.parsePredicate(predicate)
    val candidates = candidateFiles(spark, snap, pred)
    if (candidates.isEmpty)
      return DeleteReport(0, snap.files.size, 0, snap.version)
    // rewrite candidates: retained rows only; a file whose rows all match
    // is dropped entirely (no empty-file adds — parquet writes skip them).
    // SQL DELETE removes only rows where the condition is TRUE — a NULL
    // predicate keeps the row, so retain !coalesce(pred, false), not !pred.
    // Partitioned tables reconstruct partition columns before evaluating
    // (the predicate may reference them) and re-split on write.
    val w = rewriteRows(spark, log, table, sch, txnId, "delete")(candidates,
      readFiles(spark, sch, _).filter(!coalesce(pred, lit(false))))
    val deleted = candidates.map(_.liveRows).sum - w.kept.map(_.rows).sum
    DeleteReport(candidates.size, snap.files.size - candidates.size,
      deleted, w.result.version)
  }

  final case class UpdateReport(filesRewritten: Int, filesUntouched: Int,
                                rowsUpdated: Long, version: Long)

  /** UPDATE ... SET ... WHERE — the remaining DML verb: copy-on-write at
    * file granularity, same shape as [[deleteWhere]]. Only files whose
    * stats admit matching rows are rewritten (stat-pruned — a one-key
    * update on a clustered table prices as one file, not the table); in
    * each, matching rows get every SET expression applied (cast to the
    * column's declared type, so the schema cannot drift) and the rest pass
    * through byte-identical. One OCC commit: readers see the update
    * atomically, old versions time travel to pre-update data, and the
    * (path, dv) guard aborts if a concurrent writer touched an input file.
    * SET expressions may reference any column of the row (`a = a + b`);
    * partition columns are not updatable (that is a row MOVE between
    * partitions — delete + insert expresses it honestly). CHECK
    * constraints are enforced on the rewritten rows.
    */
  def updateWhere(spark: SparkSession, log: LakeLog, table: String,
                  predicate: String, sets: Seq[(String, String)],
                  txnId: String = UUID.randomUUID().toString): UpdateReport = {
    require(sets.nonEmpty, "UPDATE needs at least one assignment")
    require(sets.map(_._1).distinct.size == sets.size,
      s"duplicate SET column in UPDATE: ${sets.map(_._1).mkString(", ")}")
    log.committedVersion(table, txnId).foreach(v =>
      return UpdateReport(0, 0, 0, v))
    val snap = log.snapshot(table)
    val sch = snap.schema.getOrElse(throw new LakeValidationException(
      s"table $table has no schema"))
    val st = toStructType(sch)
    val partCols = sch.partCols
    val cols = st.fieldNames.toSet
    sets.foreach { case (c, _) =>
      if (!cols.contains(c)) throw new LakeValidationException(
        s"unknown column $c in UPDATE on $table")
      if (partCols.contains(c)) throw new LakeValidationException(
        s"cannot UPDATE partition column $c (a partition move is a " +
          "DELETE + INSERT)")
      if (sch.generated.contains(c)) throw new LakeValidationException(
        s"cannot UPDATE generated column $c (GENERATED ALWAYS AS)")
      sch.generated.foreach { case (gc, e) =>
        if (("\\b" + java.util.regex.Pattern.quote(c) + "\\b").r
            .findFirstIn(e).isDefined)
          throw new LakeValidationException(
            s"cannot UPDATE $c - generated column $gc derives from it " +
              "(delete + insert expresses the recompute honestly)")
      }
    }
    val pred = QueryEngine.parsePredicate(predicate)
    val candidates = candidateFiles(spark, snap, pred)
    if (candidates.isEmpty)
      return UpdateReport(0, snap.files.size, 0, snap.version)
    // SQL UPDATE touches only rows where the condition is TRUE — NULL
    // leaves the row unchanged (the dual of deleteWhere's retain rule)
    val hit = coalesce(pred, lit(false))
    val setFor = sets.toMap
    val src = readFiles(spark, sch, candidates)
    val updated = src.select(st.fields.map { f =>
      setFor.get(f.name) match {
        case Some(e) =>
          when(hit, expr(e).cast(f.dataType)).otherwise(col(f.name))
            .as(f.name)
        case None => col(f.name)
      }
    }.toIndexedSeq: _*)
    // probes beside the rewrite: the CHECK aggregate (a violation rejects
    // the statement) and the matched-row count for the report
    var rowsUpdated = 0L
    val w = rewriteRows(spark, log, table, sch, txnId, "update")(candidates,
      _ => updated, probes = Seq(
        () => enforceChecks(table, sch, updated),
        () => { rowsUpdated = src.filter(hit).count() }))
    UpdateReport(candidates.size, snap.files.size - candidates.size,
      rowsUpdated, w.result.version)
  }

  /** ALTER TABLE ... ADD CONSTRAINT name CHECK (pred) — Delta semantics:
    * the new predicate is validated against EVERY existing row first (one
    * aggregate scan; any violation rejects the statement with the count),
    * then a metadata commit installs it; all later writes enforce it like
    * a CREATE-time constraint. */
  def addConstraint(spark: SparkSession, log: LakeLog, table: String,
                    name: String, predicate: String,
                    txnId: String = UUID.randomUUID().toString)
      : CommitResult = {
    val sch = log.snapshot(table).schema.getOrElse(
      throw new LakeValidationException(s"table $table has no schema"))
    if (sch.checks.contains(name))
      throw new LakeValidationException(
        s"table $table already has a constraint $name")
    val existing = read(spark, log, table)
    val bad = existing.agg(coalesce(sum(
        when(!coalesce(expr(predicate), lit(true)), 1L).otherwise(0L)),
      lit(0L))).head.getLong(0)
    if (bad > 0) throw new LakeValidationException(
      s"cannot add constraint $name ($predicate) to $table: " +
        s"$bad existing rows violate it")
    log.setConstraints(table, sch.checks + (name -> predicate), txnId)
  }

  /** ALTER TABLE ... DROP CONSTRAINT — metadata-only. */
  def dropConstraint(log: LakeLog, table: String, name: String,
                     txnId: String = UUID.randomUUID().toString)
      : CommitResult = {
    val sch = log.snapshot(table).schema.getOrElse(
      throw new LakeValidationException(s"table $table has no schema"))
    if (!sch.checks.contains(name))
      throw new LakeValidationException(
        s"table $table has no constraint $name")
    log.setConstraints(table, sch.checks - name, txnId)
  }

  /** ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS ...]: one
    * aggregate pass computing row count and per-column EXACT ndv / null
    * count / min / max, persisted on the schema (advisory metadata for
    * planners and DESCRIBE STATS; it versions and time-travels with the
    * log). Exact ndv is the honest oracle-checkable choice — at open
    * vocabulary scale a deployment swaps in approx_count_distinct, same
    * storage shape. Columns default to every stat-eligible scalar. */
  def analyze(spark: SparkSession, log: LakeLog, table: String,
              columns: Seq[String] = Nil,
              txnId: String = UUID.randomUUID().toString): CommitResult = {
    val snap = log.snapshot(table)
    val sch = snap.schema.getOrElse(
      throw new LakeValidationException(s"table $table has no schema"))
    val st = toStructType(sch)
    val cols =
      if (columns.nonEmpty) columns
      else statCols(st).map(_.name)
    cols.foreach(c => if (!st.fieldNames.contains(c))
      throw new LakeValidationException(s"table $table has no column $c"))
    // N countDistinct aggregates in ONE agg plan through Expand: the scan's
    // rows are replicated (N+1)× into the first shuffle — at any scale the
    // dominant cost is pure row multiplication. Instead: one non-distinct
    // pass for count/nulls/min/max, plus one column-pruned exact
    // distinct-count job PER column, all overlapped (guide §2.6 back-fill) —
    // each NDV job scans only its own column and sheds duplicates map-side.
    // Same exact integers out; the Expand never exists.
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")))
    val base = read(spark, log, table)
    val ndv = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    var row: Row = null
    inParallel(
      (() => { row = base.agg(aggs.head, aggs.tail: _*).head() }) +:
        cols.map(c => () => { ndv.put(c,
          // isNotNull first: countDistinct never counted the NULL group
          base.select(c).where(col(c).isNotNull)
            .distinct().count()); () }))
    val stats: Map[String, Map[String, String]] =
      Map("__table" -> Map(
        "row_count" -> row.getAs[Long]("__n").toString,
        "as_of_version" -> snap.version.toString)) ++
      cols.map { c =>
        c -> Map(
          "ndv" -> ndv.get(c).toString,
          "nulls" -> String.valueOf(row.getAs[Any](s"__nulls_$c")),
          "min" -> String.valueOf(row.getAs[String](s"__min_$c")),
          "max" -> String.valueOf(row.getAs[String](s"__max_$c")))
      }
    log.setTableStats(table, stats, txnId)
  }

  /** DESCRIBE STATS — the ANALYZE output as a DataFrame: one row per
    * analyzed column plus the `__table` row. */
  def statsTable(spark: SparkSession, log: LakeLog,
                 table: String): DataFrame = {
    val sch = log.snapshot(table).schema.getOrElse(
      throw new LakeValidationException(s"table $table has no schema"))
    val rows = sch.tableStats.toSeq.sortBy(_._1).map { case (c, m) =>
      Row(c, m.get("row_count").orElse(m.get("ndv")).map(_.toLong)
          .getOrElse(0L),
        m.getOrElse("nulls", null), m.getOrElse("min", null),
        m.getOrElse("max", null), m.getOrElse("as_of_version", null))
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("ndv_or_rows", LongType, nullable = false),
      StructField("nulls", StringType), StructField("min", StringType),
      StructField("max", StringType),
      StructField("as_of_version", StringType))))
  }

  final case class ReplaceReport(filesReplaced: Int, filesUntouched: Int,
                                 rowsRemoved: Long, rowsAdded: Long,
                                 version: Long)

  /** A concurrent writer appended a file that may hold rows inside the
    * replaced region (Delta's ConcurrentAppendException condition):
    * files in the fresh snapshot that were NOT in ours and that the
    * predicate cannot prune away. Conservative by construction — stat
    * pruning only proves absence, so a false positive aborts a commit
    * that might have been safe; the reverse (committing over a foreign
    * in-region row) would silently break the region invariant.
    */
  private[lake] def replaceAppendConflict(snapPaths: Set[String],
                                          freshFiles: Seq[FileAdd],
                                          region: Seq[Expression]): Boolean =
    LakeFileIndex.prune(
      freshFiles.filterNot(f => snapPaths.contains(f.path)), region).nonEmpty

  /** Atomic predicate-scoped overwrite — Delta's `replaceWhere`, the
    * partition-backfill idiom ("recompute yesterday's slice, leave the
    * rest of the table untouched"). In ONE commit: rows matching
    * `predicate` are removed and replaced by `df`; files wholly outside
    * the predicate (by log stats / partition values) are never read or
    * rewritten, so at 100 TB a one-partition backfill prices as that
    * partition, not the table. Readers see old or new state, never a
    * mixture (the two-commit delete+insert composition has exactly that
    * hole, plus a crash window that loses the slice entirely).
    *
    * Semantics guards:
    *  - every incoming row must satisfy `predicate` (else the "replace"
    *    would smuggle rows outside the replaced region) — violations
    *    reject the whole statement and nothing staged survives;
    *  - surviving rows of partially-matching files are rewritten
    *    copy-on-write with deletion-vector holes already subtracted;
    *    their re-adds carry `rewrite = true` so the change feed reports
    *    only the genuinely new rows as inserts;
    *  - the commit aborts if a concurrent writer touched any input file
    *    (same (path, dv) guard as [[deleteWhere]]) OR appended a file
    *    the predicate cannot prune away ([[replaceAppendConflict]] —
    *    Delta's ConcurrentAppendException: a foreign in-region row
    *    would survive the swap and break the region invariant);
    *    duplicate txn ids replay as no-ops.
    */
  def replaceWhere(spark: SparkSession, log: LakeLog, table: String,
                   predicate: String, df: DataFrame,
                   txnId: String = UUID.randomUUID().toString,
                   numFiles: Int = 1,
                   maxAttempts: Int = 3): ReplaceReport = {
    log.committedVersion(table, txnId).foreach(v =>
      return ReplaceReport(0, 0, 0, 0, v))
    val snap = log.snapshot(table)
    val sch = snap.schema.get
    val pred = QueryEngine.parsePredicate(predicate)
    // persisted: the violation count, checks and the staged write must
    // execute the caller's upstream query once, not three times
    val shaped = shape(table, sch, df).persist()
    try {
      // the region as stat conjuncts: prunes the candidates now and the
      // concurrent appends at every commit attempt
      val region = pushedFilters(spark, snap, pred)
      val candidates = LakeFileIndex.prune(snap.files, region)
      val snapPaths = snap.files.map(_.path).toSet
      // NULL predicate keeps the row (same rule as SQL DELETE): replaced =
      // pred IS TRUE, survivors = everything else. A CHECK or region
      // violation rejects the whole statement with no trace.
      val outside = !coalesce(pred, lit(false))
      val w = rewriteRows(spark, log, table, sch, txnId, "replaceWhere",
          maxAttempts)(candidates, readFiles(spark, sch, _).filter(outside),
        newRows = Some(if (numFiles > 1) shaped.repartition(numFiles)
          else shaped.coalesce(1)),
        probes = Seq(
          () => enforceChecks(table, sch, shaped),
          () => {
            val violations = shaped.filter(outside).count()
            if (violations > 0) throw new LakeValidationException(
              s"replaceWhere: $violations incoming row(s) do not satisfy " +
                s"'$predicate' (rows outside the replaced region)")
          }),
        // Delta's append conflict, beside the rewrite guard
        guard = cur => !replaceAppendConflict(snapPaths, cur.files, region))
      ReplaceReport(candidates.size, snap.files.size - candidates.size,
        candidates.map(_.liveRows).sum - w.kept.map(_.rows).sum,
        w.added.map(_.rows).sum, w.result.version)
    } finally shaped.unpersist()
  }

  final case class MorDeleteReport(filesWithDv: Int, filesRemoved: Int,
                                   filesUntouched: Int, rowsDeleted: Long,
                                   version: Long)

  /** DELETE WHERE, merge-on-read (Delta/Iceberg deletion vectors): instead
    * of rewriting every file that holds a matching row ([[deleteWhere]]'s
    * copy-on-write), write the matching PARQUET ROW POSITIONS to a
    * positions-only sidecar and re-add the touched files with a [[DvRef]].
    * Data bytes are never copied — at 100 TB, deleting a handful of rows
    * from a 1 GB file costs a positions write and a log entry, not a
    * gigabyte rewrite. Readers subtract the DV as a broadcast anti-join on
    * (basename, row index); compaction materializes it once the deleted
    * fraction crosses [[CompactionConfig.dvRewriteFraction]].
    *
    * A file whose rows ALL die is removed outright (no DV); a re-delete on
    * an already-DV'd file merges prior + new positions into a fresh
    * sidecar (the re-added [[DvRef]] is always the complete hole set).
    * File stats stay attached untouched — min/max/null bounds over a
    * superset remain SOUND for pruning, though no longer exact witnesses
    * ([[StatsAgg]] therefore answers only COUNT(*) over DV'd files).
    */
  def deleteWhereMor(spark: SparkSession, log: LakeLog, table: String,
                     predicate: String,
                     txnId: String = UUID.randomUUID().toString)
      : MorDeleteReport = {
    log.committedVersion(table, txnId).foreach(v =>
      return MorDeleteReport(0, 0, 0, 0, v))
    val snap = log.snapshot(table)
    val sch = snap.schema.get
    // DV positions key by basename (see baseName) — refuse, rather than
    // silently corrupt, the pathological table with colliding names
    val allNames = snap.files.map(f => baseName(f.path))
    if (allNames.distinct.size != allNames.size)
      throw new LakeValidationException(
        s"table $table has duplicate data-file basenames; merge-on-read " +
          "delete requires unique names (use copy-on-write deleteWhere)")
    val pred = QueryEngine.parsePredicate(predicate)
    val candidates = candidateFiles(spark, snap, pred)
    if (candidates.isEmpty)
      return MorDeleteReport(0, 0, snap.files.size, 0, snap.version)
    // matching positions over whole rows (the predicate may reference
    // partition columns, which live only in the log). The scan reads RAW
    // files including already-deleted positions — re-matching a dead row
    // is harmless (the union below is a set).
    val newPos = readFiles(spark, sch, candidates, rowIds = true)
      .filter(coalesce(pred, lit(false)))
      .select(col("__file").as("file"), col("__pos").as("pos"))
    // complete hole set per candidate: prior DV positions ∪ new matches
    val priorDvPaths = candidates.flatMap(_.dv.map(_.path)).distinct
    val candNames = candidates.map(f => baseName(f.path))
    // with no prior DV each (file, pos) is already unique: one scan per
    // file, unique row indexes, basenames checked unique above
    val merged = (if (priorDvPaths.isEmpty) newPos
      else newPos.unionAll(
        spark.read.schema(DvSchema).parquet(priorDvPaths: _*)
          .filter(col("file").isin(candNames: _*))).distinct())
      .persist()
    try {
      // O(#candidates) rows to the driver — metadata-priced
      val totals: Map[String, Long] = merged.groupBy("file").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def total(f: FileAdd): Long = totals.getOrElse(baseName(f.path), 0L)
      // touched = strictly more holes than before (a match that only
      // re-hits already-deleted positions changes nothing)
      val touched = candidates.filter(f => total(f) > f.dvRows)
      if (touched.isEmpty)
        return MorDeleteReport(0, 0, snap.files.size, 0, snap.version)
      val (fullDead, partial) = touched.partition(f => total(f) == f.rows)
      val staged = log.tmpDir(table, txnId)
      var dvPath: Option[Path] = None
      try {
        if (partial.nonEmpty) {
          val partialNames = partial.map(f => baseName(f.path))
          LocalFs.install(spark)
          merged.filter(col("file").isin(partialNames: _*))
            .coalesce(1).sortWithinPartitions("file", "pos")
            .write.mode("overwrite").option("compression", "snappy")
            .parquet(staged.toString)
          val one = stagedParts(staged) match {
            case Seq(p) => p
            case other => throw new IllegalStateException(
              s"expected one staged dv file, found ${other.size}")
          }
          val dataDir = log.dataDir(table)
          Files.createDirectories(dataDir)
          val dest = dataDir.resolve(
            s"dv-${UUID.randomUUID().toString}.parquet")
          Files.move(one, dest, StandardCopyOption.ATOMIC_MOVE)
          dvPath = Some(dest)
        }
        // the re-adds are LIVE files: the tail reclaims only the sidecar
        val adds = partial.map(f => f.copy(rewrite = true,
          dv = Some(DvRef(dvPath.get.toString, total(f)))))
        val result = commitStaged(log, table, txnId, adds,
            reclaim = Some(() => dvPath.foreach(Files.deleteIfExists(_))))(
          removeIfUnchanged(touched))
          .getOrElse(lostInputs("merge-on-read delete"))
        val deleted = touched.map(f => total(f) - f.dvRows).sum
        MorDeleteReport(partial.size, fullDead.size,
          snap.files.size - touched.size, deleted, result.version)
      } finally deleteRecursively(staged)
    } finally merged.unpersist()
  }

  /** Files that might hold a key in `[lo, hi]`, the key range of an
    * upsert's update set or a merge's source: `key >= lo AND key <= hi`
    * with the probe row's typed values as literals. A null bound means the
    * key set holds no non-null key, and a NULL key matches no row (SQL
    * equality), so no file is a candidate. */
  private def keyRangeCandidates(snap: Snapshot, sch: TableSchema,
                                 keyCol: String, lo: Any,
                                 hi: Any): Seq[FileAdd] =
    if (lo == null || hi == null) Nil
    else {
      val dt = toStructType(sch)(keyCol).dataType
      val key = AttributeReference(sch.physFor(keyCol), dt)()
      LakeFileIndex.prune(snap.files, Seq(
        GreaterThanOrEqual(key, Literal.create(lo, dt)),
        LessThanOrEqual(key, Literal.create(hi, dt))))
    }

  /** Upsert by key — MERGE INTO semantics for the common whole-row case:
    * delete current rows whose key appears in `updates`, then insert
    * `updates`, both inside one commit (remove rewritten files + add
    * rewrite and new-data files atomically).
    */
  def upsert(spark: SparkSession, log: LakeLog, table: String,
             updates: DataFrame, keyCol: String,
             txnId: String = UUID.randomUUID().toString): CommitResult = {
    log.committedVersion(table, txnId).foreach(v =>
      return CommitResult(v, duplicate = true))
    val snap = log.snapshot(table)
    val sch = snap.schema.get
    // read by the CHECK and key-range aggregates, the survivors' anti-join
    // and the staged write — materialize once. The key-range probe picks
    // the inputs on the survivor rewrite's own thread.
    val shaped = shape(table, sch, updates).persist()
    try {
      val keys = shaped.select(keyCol)
      rewriteRows(spark, log, table, sch, txnId, "upsert")({
          val r = keys.agg(min(keyCol), max(keyCol)).collect().head
          keyRangeCandidates(snap, sch, keyCol, r.get(0), r.get(1))
        }, readFiles(spark, sch, _).join(keys, Seq(keyCol), "left_anti"),
        newRows = Some(shaped.coalesce(1)),
        probes = Seq(() => enforceChecks(table, sch, shaped))).result
    } finally shaped.unpersist()
  }

  /** One ordered `WHEN` clause of a [[merge]]: `kind` is `"update"` or
    * `"delete"` (matched clauses) — inserts are the separate
    * `insertWhen` argument. `cond` is a SQL predicate over the MATCHED
    * pair: target columns by name, source columns as `src_<col>`. */
  final case class MergeClause(kind: String, cond: Option[String] = None)

  final case class MergeResult(version: Long, updated: Long, deleted: Long,
                               inserted: Long, kept: Long,
                               duplicate: Boolean = false)

  /** Full conditional MERGE — the lakehouse DML face (Delta/Iceberg
    * `MERGE INTO` with ordered clauses), generalizing [[upsert]]'s
    * whole-row replace:
    *
    *   MERGE INTO t USING src ON key
    *     WHEN MATCHED [AND cond] THEN DELETE
    *     WHEN MATCHED [AND cond] THEN UPDATE SET *
    *     WHEN NOT MATCHED [AND cond] THEN INSERT *
    *
    * For each matched (target, source) pair the FIRST matched-clause
    * whose condition holds applies (standard Delta ordering semantics);
    * no clause holding keeps the target row unchanged. Conditions see
    * the pair as target columns by name plus source columns prefixed
    * `src_`. Source keys must be unique (two source rows matching one
    * target row is ambiguous — an error, not a silent pick) and
    * NULL-keyed source rows never match (SQL equality), flowing to the
    * NOT MATCHED clause like Delta.
    *
    * Scale/commit shape is [[upsert]]'s ([[rewriteRows]]): touched files
    * = stats-pruned candidates for the source key range; survivors
    * rewrite as layout (`rewrite = true`, invisible to CDC),
    * updated+inserted rows stage as logical adds; one atomic OCC commit
    * with the same concurrent-DV conflict check; idempotent under txn-id
    * replay.
    */
  def merge(spark: SparkSession, log: LakeLog, table: String,
            source: DataFrame, keyCol: String,
            matched: Seq[MergeClause],
            insertWhen: Option[Option[String]] = Some(None),
            txnId: String = UUID.randomUUID().toString): MergeResult = {
    log.committedVersion(table, txnId).foreach(v =>
      return MergeResult(v, 0, 0, 0, 0, duplicate = true))
    require(matched.forall(c => c.kind == "update" || c.kind == "delete"),
      s"matched clause kinds must be update/delete: $matched")
    val snap = log.snapshot(table)
    val sch = snap.schema.get
    val st = toStructType(sch)
    if (st.fieldNames.exists(_.startsWith("src_")))
      throw new LakeValidationException(
        s"merge into $table: target columns may not start with 'src_' " +
          "(reserved for the source side in clause conditions)")
    val shaped = shape(table, sch, source).persist()
    try {
    // ONE aggregate answers the ambiguous-match guard AND the key range:
    // per-key group counts, then max(count) + min/max key in the same
    // pass (min/max over the group keys = over the non-null keys)
    val kprobe = shaped.filter(col(keyCol).isNotNull)
      .groupBy(keyCol).agg(count(lit(1)).as("__c"))
      .agg(max(col("__c")).as("__maxc"),
        min(col(keyCol)), max(col(keyCol)))
      .head()
    if (!kprobe.isNullAt(0) && kprobe.getLong(0) > 1) {
      // error path only: re-find one offending key for the message
      val dup = shaped.filter(col(keyCol).isNotNull)
        .groupBy(keyCol).count().filter(col("count") > 1).limit(1).collect()
      throw new LakeValidationException(
        s"merge into $table: source has ${dup.head.get(0)} more than " +
          s"once in $keyCol — multiple matches per target row are " +
          "ambiguous")
    }
    // a file that could hold a matched key is in the source key range
    val candidates =
      keyRangeCandidates(snap, sch, keyCol, kprobe.get(1), kprobe.get(2))

    // the matched-pair frame: candidate target rows left-joined with the
    // source under src_ prefixes; clause conditions evaluate over it
    val srcPrefixed = shaped.select(
      st.fieldNames.toSeq.map(n => col(n).as(s"src_$n")): _*)
    val matchedFlag = col(s"src_$keyCol").isNotNull
    // first-clause-wins action: fold the ordered clauses into one CASE
    // (a NULL condition skips the clause, like SQL WHERE)
    val action = matched.foldRight(lit("k")) { (c, els) =>
      val hit = c.cond.map(x => expr(x)).getOrElse(lit(true))
      when(matchedFlag && coalesce(hit, lit(false)),
        lit(if (c.kind == "update") "u" else "d")).otherwise(els)
    }
    val paired =
      if (candidates.isEmpty) null
      else readFiles(spark, sch, candidates)
        .join(srcPrefixed, col(keyCol) === col(s"src_$keyCol"), "left_outer")
        .withColumn("__action", action)
        .persist()
    try {
    val updates =
      if (paired == null) readFiles(spark, sch, Nil)
      else paired.filter(col("__action") === "u")
        .select(st.fieldNames.toSeq.map(n => col(s"src_$n").as(n)): _*)
    val inserts = insertWhen match {
      case None => updates.limit(0)
      case Some(cond) =>
        // source rows matching no target row (NULL-keyed rows included:
        // anti-join equality never matches NULL). Every target row that
        // could match is in `paired` — the candidate set admits the full
        // source key range by construction.
        val targetKeys =
          if (paired == null) updates.limit(0).select(keyCol)
          else paired.select(keyCol)
        val unmatched = shaped.join(targetKeys, Seq(keyCol), "left_anti")
        // an insert condition may name source columns plainly or with
        // the src_ prefix (symmetry with the matched clauses)
        cond.map { c =>
          unmatched.select(st.fieldNames.toSeq.map(col) ++
              st.fieldNames.toSeq.map(n => col(n).as(s"src_$n")): _*)
            .filter(expr(c))
            .select(st.fieldNames.toSeq.map(col): _*)
        }.getOrElse(unmatched)
    }
    val newRows = updates.unionByName(inserts).persist()
    try {
    // probes beside the two writes: the CHECK aggregate over the new
    // rows, the new-row count and the action counts over the cached pair
    // frame, each one folded aggregate
    var nUpdated = 0L; var nDeleted = 0L; var nKept = 0L
    var newRowCount = 0L
    val w = rewriteRows(spark, log, table, sch, txnId, "merge")(candidates,
      _ => paired.filter(col("__action") === "k")
        .select(st.fieldNames.toSeq.map(col): _*),
      newRows = Some(newRows.coalesce(1)),
      probes = Seq(
        () => enforceChecks(table, sch, newRows),
        () => { newRowCount = newRows.count() }) ++
        (if (paired == null) Nil else Seq(() => {
          val r = paired.agg(
            sum(when(col("__action") === "u", 1L).otherwise(0L)),
            sum(when(col("__action") === "d", 1L).otherwise(0L)),
            sum(when(col("__action") === "k", 1L).otherwise(0L))).head()
          def n(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
          nUpdated = n(0); nDeleted = n(1); nKept = n(2)
        })))
    MergeResult(w.result.version, nUpdated, nDeleted,
      newRowCount - nUpdated, kept = nKept, duplicate = w.result.duplicate)
    } finally newRows.unpersist()
    } finally if (paired != null) paired.unpersist()
    } finally shaped.unpersist()
  }

  /** How one log version changes a table's logical rows, read from the log
    * alone against the file map just before it — the empty map before
    * version 1. The one classifier behind [[changeFeed]], the lake stream
    * source and [[MaterializedView.refresh]]. */
  private[lake] sealed trait Change
  private[lake] object Change {
    /** Logical adds only: inserts, loads, stream sink batches; also
      * schema-only entries, whose delta is empty. */
    case object Append extends Change
    /** A merge-on-read delete: every add re-adds a prior path with the
      * same physical rows and a strictly larger DV — the DV enumerates the
      * deleted rows — and every other remove drops a prior file whole, so
      * its live rows are the deleted ones. */
    case object DvDelta extends Change
    /** A layout rewrite (compaction, schema requotes, a restore to
      * identical content): rewrite adds, each path's DV unchanged, live
      * rows balancing what the entry displaces. */
    case object LayoutOnly extends Change
    /** Anything else — copy-on-write rewrites, upserts, restores, a clone's
      * first version: rows changed with no logged pre-images. */
    case object Opaque extends Change
  }

  /** A window `(from, to]` of a table's log: each version labelled by
    * [[classify]], the file map at `from` and the schema at `to`. */
  private[lake] final case class ChangeWindow(table: String,
      schema: TableSchema, start: Map[String, FileAdd],
      versions: Seq[(LogEntry, Change)]) {
    def has(c: Change): Boolean = versions.exists(_._2 == c)
    /** Logically added files: rewrite adds (compaction, delete/upsert
      * survivors, restores, DV re-adds) never replay. */
    def inserts: Seq[FileAdd] =
      versions.flatMap(_._1.adds.filterNot(_.rewrite))
    private def dropped: Set[String] =
      versions.collect { case (e, Change.DvDelta) =>
        e.removes.toSet -- e.adds.map(_.path) }.flatten.toSet
    /** Each DV'd file's LAST DV-delta re-add in the window, unless a later
      * DV delta drops the file whole. */
    def dvReadds: Seq[FileAdd] = {
      val gone = dropped
      versions.collect { case (e, Change.DvDelta) => e.adds }.flatten
        .map(a => a.path -> a).toMap.values.filterNot(a => gone(a.path))
        .toSeq.sortBy(_.path)
    }
    /** Each file a DV delta dropped whole, as the window start had it —
      * or, added inside the window, without a DV. */
    def drops: Seq[FileAdd] = {
      val added = versions.flatMap(_._1.adds).map(a => a.path -> a).toMap
      dropped.toSeq.sorted.map(p =>
        start.getOrElse(p, added(p).copy(dv = None)))
    }
  }

  /** Label every version of `(fromVersion, toVersion]` (0/negative
    * `toVersion` = latest), rolling the file map forward from the
    * state at `fromVersion` — one replay per window gives that state and
    * the window's versions, not one per version. */
  private[lake] def changeWindow(log: LakeLog, table: String,
                                 fromVersion: Long,
                                 toVersion: Long = 0L): ChangeWindow = {
    val replay = log.replay(table, Some(fromVersion))
    val to = if (toVersion <= 0) replay.latest else toVersion
    require(fromVersion <= to, s"fromVersion $fromVersion > toVersion $to")
    val start = replay.snapshot
    val startFiles = start.files.map(f => f.path -> f).toMap
    var files = startFiles
    var schema = start.schema
    val labelled = replay.versions
      .filter(v => v > fromVersion && v <= to).map { v =>
        val e = log.readEntry(table, v)
        val c = classify(files, e)
        // removes BEFORE adds, as in snapshot replay
        files = files -- e.removes ++ e.adds.map(a => a.path -> a)
        schema = e.schema.orElse(schema)
        (e, c)
      }
    ChangeWindow(table, log.schemaOf(start.copy(schema = schema)),
      startFiles, labelled)
  }

  private def classify(prior: Map[String, FileAdd], e: LogEntry): Change = {
    val rewrites = e.adds.nonEmpty && e.adds.forall(_.rewrite)
    def live(p: String, absent: Long) = prior.get(p).fold(absent)(_.liveRows)
    if (e.removes.isEmpty && e.adds.forall(!_.rewrite)) Change.Append
    else if (e.removes.forall(prior.contains) &&
        e.adds.forall(a => a.rewrite && a.dv.isDefined &&
          e.removes.contains(a.path) && prior.get(a.path).exists(p =>
            a.rows == p.rows && a.dvRows > p.dvRows)))
      Change.DvDelta
    // layout-only: a re-added path keeps its DV, a fresh path carries
    // none, and live rows balance against what the entry displaces (via
    // removes, or via in-place path replacement)
    else if (rewrites &&
        e.adds.forall(a =>
          prior.get(a.path).fold(a.dv.isEmpty)(_.dv == a.dv)) &&
        e.removes.map(live(_, Long.MinValue)).sum +
          e.adds.map(a => live(a.path, 0L)).sum ==
          e.adds.map(_.liveRows).sum)
      Change.LayoutOnly
    else Change.Opaque
  }

  /** The rows a window logically added. */
  private[lake] def insertedRows(spark: SparkSession,
                                 w: ChangeWindow): DataFrame =
    readFiles(spark, w.schema, w.inserts)

  /** The rows a window's merge-on-read deletes punched out: for each file,
    * the positions in its last DV-delta re-add in the window minus its DV
    * at the window start, read with [[readFiles]]' row ids; for each file
    * dropped whole, its live rows at the window start. A file compacted
    * away later in the window still yields its deletes; a file added
    * inside the window yields all its positions (its insert rode the same
    * window in full, so the two balance). */
  private[lake] def deletedRows(spark: SparkSession,
                                w: ChangeWindow): DataFrame = {
    val drops = w.drops
    val files = w.dvReadds
    if (files.isEmpty) return readFiles(spark, w.schema, drops)
    val names = files.map(f => baseName(f.path))
    // one sidecar can serve several files — restrict to THIS file set
    def positions(dvs: Seq[DvRef]): DataFrame =
      spark.read.schema(DvSchema).parquet(dvs.map(_.path).distinct: _*)
        .filter(col("file").isin(names: _*))
    val now = positions(files.flatMap(_.dv))
    val priorDvs = files.flatMap(f => w.start.get(f.path).flatMap(_.dv))
    val delta =
      if (priorDvs.isEmpty) now
      else now.join(positions(priorDvs), Seq("file", "pos"), "left_anti")
    val base = readFiles(spark, w.schema, files, rowIds = true)
    val punched = base.join(broadcast(delta),
        base("__file") === delta("file") && base("__pos") === delta("pos"),
        "left_semi")
      .select(toStructType(w.schema).fieldNames.toSeq.map(col): _*)
    if (drops.isEmpty) punched
    else punched.unionAll(readFiles(spark, w.schema, drops))
  }

  /** A window's change feed: [[insertedRows]] tagged 'insert' and
    * [[deletedRows]] tagged 'delete'. A window holding an opaque version
    * is refused — never a silent partial feed. */
  private[lake] def feedOf(spark: SparkSession, w: ChangeWindow): DataFrame = {
    w.versions.collectFirst { case (e, Change.Opaque) => e.version }
      .foreach(v => throw new LakeValidationException(
        s"version $v of ${w.table} is not change-feed expressible " +
          "(copy-on-write rewrite without pre-images) — use diff()"))
    insertedRows(spark, w).withColumn("_change_type", lit("insert"))
      .unionAll(deletedRows(spark, w).withColumn("_change_type", lit("delete")))
  }

  /** Incremental change feed: all rows LOGICALLY added in versions
    * `(fromVersion, toVersion]` (CDC-style consumption — the batch analog
    * of a streaming source over the table; 0/negative `toVersion` = latest).
    * Reads only the delta's files, never the full table, so downstream
    * incremental pipelines pay for what changed. Files re-added by layout
    * operations (compaction, delete/upsert survivor rewrites) carry
    * `rewrite = true` in the log and are excluded — so upsert's new rows DO
    * appear while its rewritten survivors don't. Consumers wanting delete
    * events use [[changeFeed]] or diff snapshots.
    */
  def changesSince(spark: SparkSession, log: LakeLog, table: String,
                   fromVersion: Long, toVersion: Long = 0L): DataFrame =
    insertedRows(spark, changeWindow(log, table, fromVersion, toVersion))

  /** Rows DELETED by merge-on-read deletes in `(fromVersion, toVersion]` —
    * the delete half of a change feed, priced like one: DV positions are
    * metadata, so the cost is one scan of only the files a DV-delta
    * version re-added, semi-joined on (basename, row index). Each file
    * contributes the positions of its last DV-delta re-add in the window
    * minus its DV at `fromVersion` ([[deletedRows]]), so a file compacted
    * later in the window still yields its deletes; a file a delete dropped
    * whole yields its live rows at `fromVersion`. Copy-on-write rewrites
    * are invisible here by design — their versions are opaque to the
    * window classifier, and consumers (MV refresh, CDC) fall back to
    * [[diff]]/recompute.
    */
  def dvDeletedRows(spark: SparkSession, log: LakeLog, table: String,
                    fromVersion: Long, toVersion: Long = 0L): DataFrame =
    deletedRows(spark, changeWindow(log, table, fromVersion, toVersion))

  /** Change feed with row-level deletes (Delta CDF analog): every logical
    * row change in `(fromVersion, toVersion]` tagged `_change_type`
    * 'insert' | 'delete'. One classifier ([[changeWindow]]) labels each
    * version append, DV delta, layout-only or opaque; inserts are the
    * logically added files ([[changesSince]]), deletes the DV growth
    * ([[dvDeletedRows]]) — both metadata-priced. Windows holding an opaque
    * version (CoW delete, upsert, restore) have no logged pre-images and
    * are refused: callers key on [[diff]] for those. The lake stream
    * source's change-feed mode serves each micro-batch from this frame.
    */
  def changeFeed(spark: SparkSession, log: LakeLog, table: String,
                 fromVersion: Long, toVersion: Long = 0L): DataFrame =
    feedOf(spark, changeWindow(log, table, fromVersion, toVersion))

  /** Row-level DIFF between two versions (Delta `table_changes` analog,
    * keyed): classify every logical row change from `fromVersion` to
    * `toVersion` as insert / delete / update. `keyCols` must uniquely
    * identify a row within each snapshot (the usual CDC primary key).
    *
    * The metadata trick that makes this 100 TB-shaped: files present in
    * BOTH snapshots contribute identical rows by definition (data files
    * are immutable), so only the symmetric difference of the two file
    * lists is read — a table where a DELETE rewrote 3 of 10,000 files
    * diffs by reading 3 + 3 files, not 2 × 10,000. Rows rewritten
    * unchanged (compaction, delete survivors) cancel in the keyed
    * full-outer join and are filtered as no-ops.
    *
    * Output: keyCols, `change_type` ('insert' | 'delete' | 'update'),
    * then `old_<c>` / `new_<c>` for every non-key column (null on the
    * absent side).
    */
  def diff(spark: SparkSession, log: LakeLog, table: String,
           fromVersion: Long, toVersion: Long = 0L,
           keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "diff needs key columns")
    val snapB = log.snapshot(table, toVersion)
    require(fromVersion <= snapB.version,
      s"fromVersion $fromVersion > toVersion ${snapB.version}")
    // an explicit target, not snapshot()'s 0-means-latest: fromVersion 0
    // is the creation state, so every current row diffs as an insert
    val snapA = log.replay(table, Some(fromVersion)).snapshot
    val sch = snapB.schema.get
    val st = toStructType(sch)
    keyCols.foreach(c => require(st.fieldNames.contains(c), s"no column $c"))
    val valCols = st.fieldNames.toSeq.filterNot(keyCols.contains)
    // identity = (path, dv): a file whose deletion vector changed between
    // the versions has the same path but different logical rows — it must
    // enter the diff on both sides (the surviving rows cancel in the join)
    val keysA = snapA.files.map(f => (f.path, f.dv)).toSet
    val keysB = snapB.files.map(f => (f.path, f.dv)).toSet
    val onlyA = snapA.files.filterNot(f => keysB.contains((f.path, f.dv)))
    val onlyB = snapB.files.filterNot(f => keysA.contains((f.path, f.dv)))
    def side(files: Seq[FileAdd], tag: String): DataFrame =
      readFiles(spark, sch, files).select(keyCols.map(col) ++
        valCols.map(c => col(c).as(s"${tag}_$c")): _*)
    val joined = side(onlyA, "old").withColumn("__in_old", lit(true))
      .join(side(onlyB, "new").withColumn("__in_new", lit(true)),
        keyCols, "full_outer")
    val isUpdate = valCols.map(c =>
        !(col(s"old_$c") <=> col(s"new_$c")))
      .foldLeft(lit(false))(_ || _)
    joined.withColumn("change_type",
        when(col("__in_old").isNull, "insert")
          .when(col("__in_new").isNull, "delete")
          .when(isUpdate, "update"))
      .filter(col("change_type").isNotNull)
      .select(keyCols.map(col) :+ col("change_type") :++
        valCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Table history — one row per committed version (DESCRIBE HISTORY
    * shape): version, commit time, txn id, schema-change flag, files
    * added/removed and row/byte deltas.
    */
  def history(spark: SparkSession, log: LakeLog, table: String): DataFrame = {
    import spark.implicits._
    log.versions(table).map { v =>
      val e = log.readEntry(table, v)
      (e.version, new java.sql.Timestamp(e.timestamp_ms), e.txn_id,
        e.schema.isDefined, e.adds.size.toLong, e.removes.size.toLong,
        e.adds.map(_.rows).sum, e.adds.map(_.size).sum)
    }.toDF("version", "committed_at", "txn_id", "schema_change",
      "n_added", "n_removed", "rows_added", "bytes_added")
  }

  /** Current-table summary: version, file/row/byte totals, schema,
    * partitioning and CHECK constraints. */
  final case class TableInfo(table: String, version: Long, nFiles: Int,
                             rows: Long, bytes: Long, fields: Seq[String],
                             partitionColumns: Seq[String] = Nil,
                             constraints: Map[String, String] = Map.empty)
  def describe(log: LakeLog, table: String): TableInfo = {
    val snap = log.snapshot(table)
    TableInfo(table, snap.version, snap.files.size,
      snap.files.map(_.liveRows).sum, snap.files.map(_.size).sum,
      snap.schema.map(_.fields.map(f => s"${f.name}:${f.`type`}"))
        .getOrElse(Nil),
      snap.schema.map(_.partCols).getOrElse(Nil),
      snap.schema.map(_.checks).getOrElse(Map.empty))
  }

  /** The snapshot's file inventory as a DataFrame — the Iceberg `.files` /
    * Delta `DESCRIBE DETAIL` metadata-table analog: one row per live file
    * with physical vs live rows, deletion-vector state, partition values
    * and per-column min/max stats. Pure log read — table ops queries
    * (skew, file sizing, dv debt) at O(#files), zero data I/O. */
  def filesTable(spark: SparkSession, log: LakeLog, table: String,
                 version: Long = 0L): DataFrame = {
    val st = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("live_rows", LongType, nullable = false),
      StructField("size", LongType, nullable = false),
      StructField("partition", MapType(StringType, StringType),
        nullable = false),
      StructField("rewrite", BooleanType, nullable = false),
      StructField("dv_path", StringType, nullable = true),
      StructField("dv_rows", LongType, nullable = false),
      StructField("min_values", MapType(StringType, StringType),
        nullable = false),
      StructField("max_values", MapType(StringType, StringType),
        nullable = false),
      StructField("null_counts", MapType(StringType, LongType),
        nullable = false)))
    val rows = log.snapshot(table, version).files.map(f =>
      Row(f.path, f.rows, f.liveRows, f.size, f.partition, f.rewrite,
        f.dv.map(_.path).orNull, f.dvRows,
        f.stats.map(_.min_values).getOrElse(Map.empty[String, String]),
        f.stats.map(_.max_values).getOrElse(Map.empty[String, String]),
        f.stats.map(_.nullCounts).getOrElse(Map.empty[String, Long])))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), st)
  }

  /** File count targeting `targetFileBytes` per output file, from the
    * plan's size estimate — for parquet-backed inputs that estimate is the
    * COMPRESSED input byte count (the right order of magnitude for a
    * parquet output); in-memory inputs overestimate and simply split
    * finer, which is the safe direction. Clamped to [1, 4096]. */
  def autoNumFiles(df: DataFrame, targetFileBytes: Long): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((est + targetFileBytes - 1) / targetFileBytes).min(4096).max(1)
    n.toInt
  }

  /** [[insert]] with file sizing chosen from the input's size estimate —
    * the "optimize write" default for callers that don't know their batch
    * size: big backfills split into ~`targetFileBytes` files (default
    * 128 MB, the compaction target), small batches stay single-file. */
  def insertAutoSized(spark: SparkSession, log: LakeLog, table: String,
                      df: DataFrame,
                      txnId: String = UUID.randomUUID().toString,
                      targetFileBytes: Long = 128L * 1024 * 1024,
                      clusterBy: Seq[String] = Nil,
                      zOrderBy: Seq[String] = Nil): CommitResult =
    insert(spark, log, table, df, txnId,
      numFiles = autoNumFiles(df, targetFileBytes),
      clusterBy = clusterBy, zOrderBy = zOrderBy)

  /** RESTORE TABLE ... TO VERSION: make the table's live file set equal the
    * target version's — one metadata-only commit (adds = files visible then
    * but not now, removes = files visible now but not then). No data is
    * copied or rewritten, so restoring a 100 TB table costs one log entry;
    * the restore itself is a new version, so it is undoable and the history
    * remains append-only. Fails if a needed file was VACUUMed away.
    * Restored adds are marked `rewrite` — a restore changes table state,
    * not logical row identity, so the CDC feed does not replay them.
    */
  def restore(log: LakeLog, table: String, toVersion: Long,
              txnId: String = UUID.randomUUID().toString): CommitResult = {
    val target = log.snapshot(table, toVersion)
    target.files.foreach { f =>
      (f.path +: f.dv.map(_.path).toSeq).foreach(p =>
        if (!Files.exists(java.nio.file.Paths.get(p)))
          throw new LakeValidationException(
            s"cannot restore $table to version $toVersion: $p " +
              "no longer exists (vacuumed)"))
    }
    log.commitWithRetry(table, txnId) { fresh =>
      // identity is (path, dv): a file whose deletion vector changed since
      // the target version must be re-added with the target's dv state
      // (remove + re-add replaces the entry in place)
      val now = fresh.files.map(f => (f.path, f.dv)).toSet
      val thenPaths = target.files.map(_.path).toSet
      val adds = target.files.filterNot(f => now.contains((f.path, f.dv)))
        .map(_.copy(rewrite = true))
      val replaced = adds.map(_.path).toSet
      val removes = fresh.files.map(_.path)
        .filter(p => !thenPaths.contains(p) || replaced.contains(p))
      Some((adds, removes))
    }.get
  }

  /** SHALLOW CLONE: a zero-copy snapshot of `src` at `version` (0 = latest)
    * as a new independent table — Delta-style. The clone's version-1 entry
    * re-ADDS the source snapshot's files BY PATH (stats, partitions and
    * bloom-sidecar references ride along); no data bytes move, so cloning a
    * 100 TB table is an O(#files) metadata commit. From then on the tables
    * evolve independently: inserts land in the clone's own data dir, and any
    * copy-on-write rewrite (DELETE/UPSERT/compaction) un-shares exactly the
    * files it touches. Caveat shared with Delta shallow clones: `vacuum` on
    * the SOURCE can delete still-shared files out from under the clone —
    * clone lifetimes must sit inside the source's retention window, or the
    * clone must be compacted (un-shared) first.
    */
  def cloneTable(log: LakeLog, src: String, dst: String, version: Long = 0L,
                 txnId: String = UUID.randomUUID().toString): CommitResult = {
    val snap = log.snapshot(src, version)
    val sch = snap.schema.getOrElse(
      throw new LakeValidationException(s"table $src has no schema"))
    log.createTable(dst, sch)
    log.commit(dst, baseVersion = 0L, txnId, adds = snap.files)
  }

  final case class VacuumReport(examined: Int, deleted: Int, keptLive: Int)

  /** Garbage-collect data files no longer reachable from any RETAINED
    * snapshot: versions > latest - retainVersions stay time-travelable;
    * older versions' removed files are deleted from storage. The log entries
    * themselves are kept (audit trail). Mirrors Delta-style VACUUM with a
    * version-count (rather than wall-clock) retention window — deterministic
    * for tests and single-writer batch pipelines.
    */
  def vacuum(log: LakeLog, table: String, retainVersions: Int = 1,
             tmpRetainMs: Long = 24L * 3600 * 1000): VacuumReport = {
    val latest = log.latestVersion(table)
    val floor = math.max(0L, latest - math.max(0, retainVersions - 1))
    // union of files visible in any retained snapshot — a DV sidecar is
    // live exactly while some retained FileAdd references it. REF-pinned
    // versions (tags AND branches) stay live regardless of the retention
    // window: a ref is a promise that its snapshot stays readable
    // (Refs), so its files survive until the ref drops or moves on.
    val retained = (floor to latest) ++
      Refs.pinnedVersions(log, table).filter(_ < floor)
    val live = retained
      .flatMap(v => log.snapshot(table, v).files
        .flatMap(f => f.path +: f.dv.map(_.path).toSeq)).toSet
    // every file (and dv sidecar) ever added
    val all = log.versions(table)
      .flatMap(v => log.readEntry(table, v).adds
        .flatMap(a => a.path +: a.dv.map(_.path).toSeq)).distinct
    // ownership guard (Delta-parity): only reclaim files under THIS table's
    // data dir. A shallow clone's log references the source's files by
    // path; once the clone rewrites them away they leave its snapshots, but
    // they are the SOURCE's storage to reclaim, not the clone's.
    val own = log.dataDir(table).toAbsolutePath.toString + java.io.File.separator
    var deleted = 0
    all.foreach { p =>
      if (!live.contains(p) && p.startsWith(own)) {
        if (Files.deleteIfExists(java.nio.file.Paths.get(p))) deleted += 1
        // the bloom sidecar shares its data file's lifecycle
        Files.deleteIfExists(
          java.nio.file.Paths.get(BloomSkip.sidecarPath(p)))
      }
    }
    // sweep staging dirs orphaned by crashed write attempts (normal
    // completion removes them in the writers' finally). Age-gated on the
    // NEWEST mtime across the attempt's whole tree: POSIX doesn't bump a
    // directory's mtime when files land in nested partition subdirs, so
    // the top-level mtime of a long-running partitioned write can be
    // arbitrarily stale while the write is still in flight.
    val cutoff = System.currentTimeMillis() - math.max(0L, tmpRetainMs)
    def newestMtime(p: Path): Long = {
      val walk = Files.walk(p)
      try walk.iterator().asScala
        .map(f => Files.getLastModifiedTime(f).toMillis).max
      finally walk.close()
    }
    val tmpRoot = log.tableDir(table).resolve("_tmp")
    if (Files.exists(tmpRoot)) {
      val children = {
        val s = Files.list(tmpRoot)
        try s.iterator().asScala.toList finally s.close()
      }
      children.foreach { c =>
        if (newestMtime(c) < cutoff) deleteRecursively(c)
      }
    }
    // sweep data files PROMOTED by an attempt that then crashed before its
    // log commit landed: they appear in no log entry (invisible to every
    // reader) and no retry will adopt them (promotion destinations are
    // fresh UUIDs), so they are pure leaked storage. Same age gate — a
    // concurrent writer sitting between promote and commit is younger than
    // the cutoff and untouched.
    val dataDir = log.dataDir(table)
    if (Files.exists(dataDir)) {
      val everAdded = all.toSet
      val kids = {
        val s = Files.list(dataDir)
        try s.iterator().asScala.toList finally s.close()
      }
      kids.foreach { f =>
        val name = f.toString
        if (name.endsWith(".bloom")) {
          // a sidecar is live exactly when its data file is: sweep it when
          // the data file is not in any retained snapshot (same age gate —
          // a promote-then-commit window in flight is younger than cutoff)
          val data = name.stripSuffix(".bloom")
          if (!live.contains(data) &&
              Files.getLastModifiedTime(f).toMillis < cutoff)
            Files.deleteIfExists(f)
        } else if (Files.isRegularFile(f) && !everAdded.contains(name) &&
            Files.getLastModifiedTime(f).toMillis < cutoff &&
            Files.deleteIfExists(f)) deleted += 1
      }
    }
    VacuumReport(all.size, deleted, live.size)
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      val all = try walk.iterator().asScala.toList finally walk.close()
      all.reverse.foreach(Files.delete)
    }
}
