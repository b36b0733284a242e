package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}
import com.fasterxml.jackson.annotation.JsonInclude
import scala.jdk.CollectionConverters._

/** Data model of the transaction log, mirroring the reference's JSON shapes
  * (`pkg/storage/transaction_log.go:25-56`, `proto/metadata.proto:84-113`):
  * a table is a set of parquet files whose visibility is controlled solely by
  * versioned log entries — never by directory listing.
  */
/** `physical_name`: Delta-style column mapping — the column's name INSIDE
  * data files, which never changes after the column is created. RENAME
  * COLUMN rewrites only the logical `name` (a metadata commit; zero data
  * I/O on a 100 TB table); every read aliases physical → logical and every
  * write renames logical → physical at the file boundary. Absent (the
  * overwhelmingly common case) means physical == logical. */
final case class Field(name: String, `type`: String, nullable: Boolean = true,
                       physical_name: Option[String] = None) {
  def phys: String = physical_name.getOrElse(name)
}
/** `partition_columns`: hive-style partition columns, declared once at
  * CREATE TABLE (the Delta contract — every write must comply). The
  * reference carries a `partition map<string,string>` per file
  * (`proto/metadata.proto:98`) but never populates it; here the map is
  * real: partition values live ONLY in the log (data files are flat and do
  * not contain the partition columns), and reads reconstruct them.
  * Option so logs written before this field existed deserialize as None. */
/** `check_constraints`: named boolean SQL predicates declared at CREATE
  * TABLE and enforced on every write of new data (insert/load/json/upsert
  * source — not on rewrites, which only move rows that were admitted
  * under the constraints). SQL CHECK semantics: a row violates only when
  * the predicate evaluates to FALSE; NULL/UNKNOWN passes. The reference
  * has no constraint surface; this mirrors Delta's table CHECK
  * constraints. Option so older logs deserialize as None. */
/** `retired_columns`: physical names ever used by DROPPED columns. Old
  * data files still contain those columns' bytes; a later ADD COLUMN that
  * would reuse such a physical name gets a fresh unique one instead —
  * otherwise the new logical column would silently read the dropped
  * column's stale values out of pre-drop files. */
/** `generated_columns`: Delta-style GENERATED ALWAYS AS — column → SQL
  * expression over the row's OTHER columns. Writers may omit the column
  * (it is computed at write time) or supply it (every row is validated
  * against the expression and a mismatch rejects the batch). The flagship
  * use is a generated PARTITION column (e.g. a day derived from an event
  * timestamp): readers filter on the generated column and prune
  * partitions without the writer ever materializing it upstream. */
final case class TableSchema(fields: Seq[Field],
                             partition_columns: Option[Seq[String]] = None,
                             check_constraints: Option[Map[String, String]] =
                               None,
                             bloom_columns: Option[Seq[String]] = None,
                             retired_columns: Option[Seq[String]] = None,
                             generated_columns: Option[Map[String, String]] =
                               None,
                             table_stats: Option[Map[String,
                               Map[String, String]]] = None) {
  def partCols: Seq[String] = partition_columns.getOrElse(Nil)
  def checks: Map[String, String] = check_constraints.getOrElse(Map.empty)
  /** Columns with a DECLARED per-file bloom index: every write path —
    * inserts AND layout rewrites (compaction, delete/upsert copy-on-write)
    * — builds blooms for them, so point-lookup pruning never silently
    * degrades as the table's files get rewritten. */
  def bloomCols: Seq[String] = bloom_columns.getOrElse(Nil)
  def retired: Seq[String] = retired_columns.getOrElse(Nil)
  def generated: Map[String, String] = generated_columns.getOrElse(Map.empty)
  /** ANALYZE TABLE output: column → {ndv, nulls, min, max} plus the
    * "__table" row {row_count, as_of_version}. Advisory metadata — rides
    * the schema so it versions and time-travels with the log. */
  def tableStats: Map[String, Map[String, String]] =
    table_stats.getOrElse(Map.empty)
  /** logical → physical column name (identity unless renamed). */
  def physFor(c: String): String =
    fields.find(_.name == c).map(_.phys).getOrElse(c)
  def physMap: Map[String, String] = fields.map(f => f.name -> f.phys).toMap
  /** Any column whose on-file name differs from its logical name? The
    * mapping layers below are no-ops when false (the common case). */
  def hasMapping: Boolean = fields.exists(f => f.phys != f.name)
}
/** Per-file min/max statistics (stringified values, typed at prune time via
  * the table schema). The reference declares these (`proto/metadata.proto:
  * 102-105`) but never populates or uses them — we do both. */
/** Per-file pruning stats. `blooms` lists the columns whose Bloom sketches
  * live in the file's `<path>.bloom` SIDECAR (sketch bytes never inline in
  * the log — see [[BloomSkip]]); absent in pre-bloom entries — readers
  * treat a missing bloom as "keep". */
final case class FileStats(min_values: Map[String, String] = Map.empty,
                           max_values: Map[String, String] = Map.empty,
                           blooms: Option[Seq[String]] = None,
                           null_counts: Option[Map[String, Long]] = None) {
  /** Jackson deserializes the erased map's small values as Integer —
    * normalize through Number (via an erased view: a typed destructure
    * would specialize the tuple accessor and unbox) so callers always see
    * Long. */
  def nullCounts: Map[String, Long] =
    null_counts.getOrElse(Map.empty).asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.asInstanceOf[Number].longValue }
}
/** Deletion-vector reference (Delta/Iceberg merge-on-read deletes): `path`
  * is a positions sidecar parquet — rows `(file: string, pos: long)` where
  * `file` is the data file's basename and `pos` its parquet row index —
  * and `rows` the number of positions for THIS data file. A file with a DV
  * is read minus those positions; the data bytes are never rewritten. One
  * sidecar may serve several files from the same commit. */
final case class DvRef(path: String, rows: Long)
/** `rewrite = true` marks a file whose rows were re-added by a layout
  * operation (compaction, delete/upsert copy-on-write of surviving rows) —
  * the inverse of Delta's `dataChange`. The CDC feed ([[LakeTable
  * .changesSince]]) skips rewrite adds so consumers see each logical row
  * once. Missing in old log entries → false, i.e. a logical add.
  *
  * `dv`: merge-on-read deletion vector for this file ([[DvRef]]). `rows`
  * stays the PHYSICAL footer count (what the parquet file holds);
  * [[liveRows]] is the logical count readers see. Absent in pre-DV logs. */
final case class FileAdd(path: String, rows: Long, size: Long,
                         partition: Map[String, String] = Map.empty,
                         stats: Option[FileStats] = None,
                         rewrite: Boolean = false,
                         dv: Option[DvRef] = None) {
  def dvRows: Long = dv.map(_.rows).getOrElse(0L)
  def liveRows: Long = rows - dvRows
}
final case class LogEntry(version: Long, timestamp_ms: Long, txn_id: String,
                          schema: Option[TableSchema] = None,
                          adds: Seq[FileAdd] = Nil, removes: Seq[String] = Nil)
/** Materialized replay state at a version — the Delta-checkpoint analog
  * (`%020d.checkpoint.json` beside the entries): full file list, effective
  * schema, and the txn-id idempotency map through `version`. DERIVED data:
  * readers that find none fall back to full replay; writers emit one every
  * `checkpointInterval` commits so snapshot cost is O(interval), not
  * O(versions), at any table age. */
final case class LogCheckpoint(version: Long,
                               schema: Option[TableSchema] = None,
                               files: Seq[FileAdd] = Nil,
                               txns: Map[String, Long] = Map.empty) {
  /** Jackson's erased-map values arrive as Integer — normalize (see
    * [[FileStats.nullCounts]]). */
  def txnMap: Map[String, Long] =
    txns.asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.asInstanceOf[Number].longValue }
}
/** Table state at a version: replay of adds/removes for versions 0..V, files
  * sorted by path for determinism (`transaction_log.go:212-215`). */
final case class Snapshot(table: String, version: Long,
                          schema: Option[TableSchema], files: Seq[FileAdd])
/** One [[LakeLog.replay]]: the versions its listing found, the snapshot
  * at its target and the txn-id → version map through it, built on first
  * use so a plain snapshot never pays for the table's whole history. */
private[lake] final class LogState(val versions: Seq[Long],
    val snapshot: Snapshot, checkpoint: Option[LogCheckpoint],
    tail: Seq[LogEntry]) {
  def latest: Long = versions.last
  lazy val txns: Map[String, Long] =
    checkpoint.fold(Map.empty[String, Long])(_.txnMap) ++
      tail.map(e => e.txn_id -> e.version)
}
final case class CommitResult(version: Long, duplicate: Boolean)

final class CommitConflictException(msg: String) extends RuntimeException(msg)
final class LakeValidationException(msg: String) extends RuntimeException(msg)

/** Filesystem-backed transaction log with optimistic concurrency + idempotent
  * commits — the reference's control plane (`pkg/metadata/state.go:92-243`)
  * re-expressed for a Spark driver.
  *
  * The reference runs this as a 3-node Raft FSM because its coordinator must
  * survive node loss; Raft is an availability mechanism, not query semantics.
  * In a Spark-native engine the driver IS the control plane, so the atomic
  * commit point is a per-table lock + create-new log file (an object store
  * would use a conditional put / create-if-absent, same protocol). All
  * *semantics* — OCC base-version check, txn-id idempotency map, add/remove
  * validation, latest-schema-wins replay — match the reference exactly.
  *
  * Layout (`pkg/storage/paths.go:17-41`):
  *   <root>/tables/<name>/_log/%020d.json   one entry per version, 0 = create
  *   <root>/tables/<name>/data/...          parquet data files
  *   <root>/tables/<name>/_tmp/<txn>-<attempt>/   staging for uncommitted writes
  */
final class LakeLog(val root: Path, val checkpointInterval: Int = 10) {

  import LakeLog.mapper

  // Commit-outcome counters: the reference exports commit failure/attempt
  // Prometheus series and alerts on a windowed failure RATE
  // (monitoring/lakehouse_alerts.yml HighCommitFailureRate:
  // rate(failures[5m]) > 0.05/s); graft.Alerts evaluates an ADAPTED form —
  // a lifetime conflicts/attempts RATIO against the same 0.05 bound —
  // because there is no scrape loop to window over (documented at
  // Alerts.evaluate). Attempts count only REAL commit tries: duplicate-txn
  // replays are tracked separately so idempotent redelivery doesn't dilute
  // the ratio.
  val commitAttempts = new java.util.concurrent.atomic.AtomicLong()
  val commitConflicts = new java.util.concurrent.atomic.AtomicLong()
  val commitDuplicates = new java.util.concurrent.atomic.AtomicLong()

  // Log entries are immutable once committed — cache parsed entries forever.
  private val entryCache = new ConcurrentHashMap[Path, LogEntry]()
  private val checkpointCache = new ConcurrentHashMap[Path, LogCheckpoint]()
  // One lock object per table name = the single-process commit point.
  private val tableLocks = new ConcurrentHashMap[String, Object]()
  private def lockFor(table: String): Object =
    tableLocks.computeIfAbsent(table, _ => new Object)

  def tableDir(table: String): Path = root.resolve("tables").resolve(table)
  def logDir(table: String): Path = tableDir(table).resolve("_log")
  def dataDir(table: String): Path = tableDir(table).resolve("data")
  /** Staging directory for one WRITE ATTEMPT. Suffixed with a fresh UUID:
    * the txn id is shared by every retry/replica of an idempotent commit
    * (that is the point of it), so two concurrent attempts with the same
    * txn id would otherwise stage into the same directory and clobber or
    * delete each other's files mid-write — the commit-time idempotency map
    * dedups them, but staging must not. Attempt dirs are removed in the
    * writers' `finally`; anything orphaned by a crash is swept by vacuum.
    */
  def tmpDir(table: String, txnId: String): Path =
    tableDir(table).resolve("_tmp")
      .resolve(s"$txnId-${java.util.UUID.randomUUID().toString.take(8)}")
  private def entryPath(table: String, version: Long): Path =
    logDir(table).resolve(f"$version%020d.json")

  /** Table name rule from `pkg/coordinator/table_service.go:497-514`. */
  private val NameRe = "[A-Za-z0-9_]{1,64}".r
  /** Declared type whitelist: the reference's 8 scalars
    * (`table_service.go:546-558`) plus vector columns — a beyond-reference
    * extension embedding/training tables need (Delta and Iceberg both
    * declare array types). Vector columns carry no file stats, cannot
    * partition a table, and never parse in the predicate grammar — they
    * ride through writes, reads and the CDC feed untouched. */
  val AllowedTypes: Set[String] = Set("int32", "int64", "float32", "float64",
    "string", "boolean", "date", "timestamp",
    "float32_array", "float64_array", "int64_array")

  /** Types a partition column may have: directory-encodable values with an
    * unambiguous string round-trip (floats excluded — their rendering is
    * lossy as a grouping key; timestamps excluded — timezone-dependent). */
  val AllowedPartitionTypes: Set[String] =
    Set("int32", "int64", "string", "boolean", "date")

  def validateSchema(schema: TableSchema): Unit = {
    if (schema.fields.isEmpty)
      throw new LakeValidationException("schema must have at least one field")
    val names = schema.fields.map(_.name)
    if (names.distinct.size != names.size)
      throw new LakeValidationException("duplicate field names in schema")
    schema.fields.foreach { f =>
      if (f.name.isEmpty)
        throw new LakeValidationException("field name cannot be empty")
      if (!AllowedTypes.contains(f.`type`))
        throw new LakeValidationException(
          s"unsupported type '${f.`type`}' for field ${f.name}")
    }
    schema.generated.foreach { case (c, e) =>
      if (!schema.fields.exists(_.name == c))
        throw new LakeValidationException(
          s"generated column $c is not a schema field")
      schema.generated.keys.foreach { other =>
        if (other != c &&
            ("\\b" + java.util.regex.Pattern.quote(other) + "\\b").r
              .findFirstIn(e).isDefined)
          throw new LakeValidationException(
            s"generated column $c references generated column $other " +
              "(generation expressions cannot chain)")
      }
    }
    val pc = schema.partCols
    if (pc.distinct.size != pc.size)
      throw new LakeValidationException("duplicate partition columns")
    pc.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new LakeValidationException(
          s"partition column $c is not a schema field"))
      if (!AllowedPartitionTypes.contains(f.`type`))
        throw new LakeValidationException(
          s"type '${f.`type`}' of $c cannot be a partition column")
    }
    if (pc.nonEmpty && pc.size == schema.fields.size)
      throw new LakeValidationException(
        "at least one non-partition column is required")
    schema.bloomCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new LakeValidationException(
          s"bloom column $c is not a schema field"))
      if (pc.contains(c))
        throw new LakeValidationException(
          s"bloom column $c is a partition column (already pruned exactly)")
      if (!BloomSkip.SupportedTypes.contains(f.`type`))
        throw new LakeValidationException(
          s"bloom column $c has type '${f.`type`}' without a canonical " +
            "string rendering (supported: string, int32, int64)")
    }
  }

  def tableExists(table: String): Boolean = Files.exists(logDir(table))

  /** Files.list with the stream CLOSED — the bare iterator leaks one
    * directory fd per call until GC. */
  private def listNames(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toList
    finally s.close()
  }

  def listTables(): Seq[String] = {
    val t = root.resolve("tables")
    if (!Files.exists(t)) Nil
    else listNames(t).filter(tableExists).sorted
  }

  /** CREATE TABLE → version-0 log entry carrying the schema
    * (`state.go:92-121`). */
  def createTable(table: String, schema: TableSchema): Unit = {
    if (!NameRe.pattern.matcher(table).matches())
      throw new LakeValidationException(s"invalid table name: $table")
    validateSchema(schema)
    // mirror of Views.create's shadow guard: views register AFTER tables
    // in Views.registerAll, so a table created under an existing view's
    // name would be silently shadowed — SELECTs serve the view macro
    // while inserts land in the invisible table
    if (Views.catalog(this).views.exists(_.name == table))
      throw new LakeValidationException(
        s"cannot CREATE TABLE $table: a view with that name exists")
    lockFor(table).synchronized {
      if (tableExists(table))
        throw new LakeValidationException(s"table $table already exists")
      Files.createDirectories(logDir(table))
      Files.createDirectories(dataDir(table))
      writeEntry(table, LogEntry(version = 0,
        timestamp_ms = System.currentTimeMillis(), txn_id = s"create-$table",
        schema = Some(schema)))
    }
  }

  /** DROP TABLE — the reference's `DELETE /tables/{t}` endpoint is a
    * placeholder that deletes nothing (`pkg/coordinator/rest_api.go:683-693`);
    * here it is real: log, data and staging all go. The log directory is
    * removed FIRST (under the table's commit lock), so a concurrent reader
    * either sees the table fully alive or `tableExists == false` — never a
    * log that references vanished data files.
    */
  def dropTable(table: String): Unit = lockFor(table).synchronized {
    if (!tableExists(table))
      throw new LakeValidationException(s"table $table does not exist")
    LakeTable.deleteRecursively(logDir(table))
    LakeTable.deleteRecursively(tableDir(table))
    // a later CREATE of the same name would otherwise resurrect parsed
    // entries/checkpoints cached under the deleted paths
    val prefix = logDir(table)
    entryCache.keySet.removeIf(_.startsWith(prefix))
    checkpointCache.keySet.removeIf(_.startsWith(prefix))
  }

  private val EntryNameRe = "([0-9]{20})\\.json".r
  private val CheckpointNameRe = "([0-9]{20})\\.checkpoint\\.json".r

  private def checkpointPath(table: String, v: Long): Path =
    logDir(table).resolve(f"$v%020d.checkpoint.json")

  /** Listings of `_log`: one per read of log state (LakeCheckpointSpec). */
  val dirListings = new java.util.concurrent.atomic.AtomicLong()

  /** The one listing of `_log`: entry versions (ascending) and checkpoint
    * versions — canonical names only, never a writer's `.staged*` file. */
  private def listLog(table: String): (Seq[Long], Seq[Long]) = {
    val dir = logDir(table)
    if (!Files.exists(dir)) (Nil, Nil)
    else {
      dirListings.incrementAndGet()
      val names = listNames(dir)
      (names.collect { case EntryNameRe(v) => v.toLong }.sorted.toVector,
        names.collect { case CheckpointNameRe(v) => v.toLong })
    }
  }

  /** Committed versions in ascending order. */
  def versions(table: String): Seq[Long] = listLog(table)._1

  def latestVersion(table: String): Long = existing(table, versions(table)).last

  private def existing(table: String, vs: Seq[Long]): Seq[Long] =
    if (vs.nonEmpty) vs
    else throw new LakeValidationException(s"table $table does not exist")

  /** Resolve `TIMESTAMP AS OF`: the newest version committed at or before
    * `tsMs`. Commit timestamps are non-decreasing in version order (one
    * wall clock stamps every entry at commit), so this is a binary search
    * — O(log versions) entry reads, all served from the entry cache on
    * repeat. Version 0 is the bare CREATE (and the snapshot resolver's
    * latest-sentinel), so a timestamp that lands before the first DATA
    * commit fails loudly instead of silently reading the latest state.
    */
  def versionAtTimestamp(table: String, tsMs: Long): Long = {
    val vs = existing(table, versions(table))
    var lo = 0
    var hi = vs.size - 1
    var ans = -1L
    while (lo <= hi) {
      val mid = (lo + hi) / 2
      if (readEntry(table, vs(mid)).timestamp_ms <= tsMs) {
        ans = vs(mid); lo = mid + 1
      } else hi = mid - 1
    }
    if (ans <= 0) throw new LakeValidationException(
      s"no committed version of $table at or before timestamp $tsMs " +
        s"(earliest data commit: ${if (vs.size > 1)
          readEntry(table, vs(1)).timestamp_ms.toString
        else "none"})")
    ans
  }

  /** Cold entry-file parses — the cost a checkpoint bounds; pinned by
    * LakeCheckpointSpec's O(interval) test. */
  val entryReads = new java.util.concurrent.atomic.AtomicLong()

  def readEntry(table: String, version: Long): LogEntry = {
    val p = entryPath(table, version)
    entryCache.computeIfAbsent(p, path => {
      entryReads.incrementAndGet()
      mapper.readValue[LogEntry](Files.readString(path))
    })
  }

  private def writeEntry(table: String, entry: LogEntry): Unit = {
    val target = entryPath(table, entry.version)
    // the exists() check is only a fast path: the create-if-absent below
    // is what excludes a second process racing the same version
    // (CrossProcessCommitSpec races a second JVM to pin it)
    if (Files.exists(target))
      throw new CommitConflictException(
        s"version ${entry.version} already committed for $table")
    if (!LakeLog.createIfAbsent(target, mapper.writeValueAsString(entry)))
      throw new CommitConflictException(
        s"version ${entry.version} already committed for $table " +
          "(lost the cross-process commit race)")
  }

  /** The checkpoint at `version`: the commit's own replay `prior` plus the
    * entry it just committed (read back as every later reader sees it),
    * written by an atomic [[LakeLog.replace]]. Best-effort — the entry IS
    * committed, and a reader finding no checkpoint replays more entries. */
  private def writeCheckpoint(table: String, prior: LogState,
                              version: Long): Unit =
    try {
      val e = readEntry(table, version)
      val snap = rolled(prior.snapshot, Seq(e), version)
      LakeLog.replace(checkpointPath(table, version),
        mapper.writeValueAsString(LogCheckpoint(version, snap.schema,
          snap.files, prior.txns + (e.txn_id -> version))))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(
        s"[lake] checkpoint $version for $table failed: ${e.getMessage}")
    }

  /** THE replay every read of table state goes through: one listing of
    * `_log` gives the versions and the newest checkpoint at or below
    * `target` (None = latest), and the entries above it fold once — at
    * most `checkpointInterval` of them at any table age. A target below
    * 0 is the state before CREATE: no schema, no files. */
  private[lake] def replay(table: String, target: Option[Long] = None)
      : LogState = {
    val (listed, cps) = listLog(table)
    val vs = existing(table, listed)
    val to = target.getOrElse(vs.last)
    if (to > vs.last)
      throw new LakeValidationException(
        s"version $to does not exist for $table (latest ${vs.last})")
    val cp = cps.filter(_ <= to).maxOption.map(v =>
      checkpointCache.computeIfAbsent(checkpointPath(table, v),
        p => mapper.readValue[LogCheckpoint](Files.readString(p))))
    val from = cp.fold(-1L)(_.version)
    val tail = vs.filter(v => v > from && v <= to).map(readEntry(table, _))
    val base = Snapshot(table, from, cp.flatMap(_.schema),
      cp.fold(Seq.empty[FileAdd])(_.files))
    new LogState(vs, rolled(base, tail, to), cp, tail)
  }

  /** `base` rolled forward by `entries` to `version`: latest schema wins
    * (`transaction_log.go:191-194`); removes go before adds, so an entry
    * that re-adds a path it removes REPLACES the file (how a DV commit
    * attaches its DvRef in place). Files sorted by path. */
  private def rolled(base: Snapshot, entries: Seq[LogEntry],
                     version: Long): Snapshot = {
    val files = scala.collection.mutable.HashMap.from(
      base.files.map(a => a.path -> a))
    var schema = base.schema
    entries.foreach { e =>
      schema = e.schema.orElse(schema)
      e.removes.foreach(files.remove)
      e.adds.foreach(a => files(a.path) = a)
    }
    Snapshot(base.table, version, schema, files.values.toSeq.sortBy(_.path))
  }

  /** Table state at `version` (0 or negative = latest). */
  def snapshot(table: String, version: Long = 0L): Snapshot =
    replay(table, if (version <= 0) None else Some(version)).snapshot

  /** Look up whether `txnId` already committed (its version if so) —
    * writers use this to skip re-staging data for a redelivered batch,
    * and to settle a commit whose outcome a throw left unknown (the
    * reference keeps this map in its Raft FSM, `state.go:150-159`). */
  def committedVersion(table: String, txnId: String): Option[Long] =
    replay(table).txns.get(txnId)

  /** The one commit tail of every log entry after CREATE
    * (`state.go:124-195`), under the table's lock:
    *  1. duplicate txn_id → return prior version, duplicate=true (counted
    *     as a duplicate, not an attempt);
    *  2. otherwise count an attempt; a data commit's `base` must equal
    *     latest, else [[CommitConflictException]] (metadata verbs pass
    *     None: they apply to whatever is latest);
    *  3. `build` turns the replay's snapshot into the entry's (schema,
    *     adds, removes), throwing [[LakeValidationException]] to refuse;
    *  4. the entry is written at latest + 1 through the create-if-absent
    *     commit point, then checkpointed from this replay when due.
    */
  private def commitEntry(table: String, txnId: String, base: Option[Long])(
      build: Snapshot => (Option[TableSchema], Seq[FileAdd], Seq[String]))
      : CommitResult = lockFor(table).synchronized {
    val state = replay(table) // also validates existence
    val latest = state.latest
    state.txns.get(txnId) match {
      case Some(v) =>
        // a replay is not a commit ATTEMPT for alerting purposes:
        // counting it would deflate the conflict ratio the alert watches
        commitDuplicates.incrementAndGet()
        CommitResult(v, duplicate = true)
      case None =>
        commitAttempts.incrementAndGet()
        base.filter(_ != latest).foreach { b =>
          commitConflicts.incrementAndGet()
          throw new CommitConflictException(
            s"optimistic concurrency failure: base version $b " +
              s"does not match current version $latest")
        }
        val (schema, adds, removes) = build(state.snapshot)
        writeEntry(table, LogEntry(latest + 1, System.currentTimeMillis(),
          txnId, schema, adds, removes))
        if (checkpointInterval > 0 && (latest + 1) % checkpointInterval == 0)
          writeCheckpoint(table, state, latest + 1)
        CommitResult(latest + 1, duplicate = false)
    }
  }

  private[lake] def schemaOf(snap: Snapshot): TableSchema =
    snap.schema.getOrElse(
      throw new LakeValidationException(s"table ${snap.table} has no schema"))

  /** OCC data commit: removes must exist in the current snapshot; adds
    * must be new paths (unless removed in the same transaction) and are
    * validated (non-empty path, size>0 implies rows>0). */
  def commit(table: String, baseVersion: Long, txnId: String,
             adds: Seq[FileAdd], removes: Seq[String] = Nil): CommitResult = {
    if (txnId.isEmpty)
      throw new LakeValidationException("transaction ID cannot be empty")
    commitEntry(table, txnId, Some(baseVersion)) { snap =>
      val current = snap.files.map(_.path).toSet
      removes.foreach { r =>
        if (!current.contains(r)) throw new LakeValidationException(
          s"cannot remove file $r: file does not exist")
      }
      val removedNow = removes.toSet
      adds.foreach { a =>
        if (a.path.isEmpty)
          throw new LakeValidationException("file path cannot be empty")
        if (current.contains(a.path) && !removedNow.contains(a.path))
          throw new LakeValidationException(
            s"cannot add file ${a.path}: file already exists")
        if (a.rows == 0 && a.size > 0) throw new LakeValidationException(
          s"file ${a.path} has size but no rows")
      }
      // data commits carry NO schema: replay's "latest schema wins"
      // takes it from the create/evolve entries (and checkpoints), so
      // embedding the current schema here only bloated every entry
      // and made history()'s schema_change flag permanently true
      (None, adds, removes)
    }
  }

  /** Lossless widenings the Parquet reader performs natively (Spark 4
    * upcasts INT32 pages into LongType vectors and FLOAT pages into
    * DoubleType — old files stay valid byte-for-byte). */
  private val Widenings = Set(("int32", "int64"), ("float32", "float64"))

  /** Schema evolution: commit a new schema version. The replay rule
    * "latest schema wins" (`transaction_log.go:191-194`) — declared by the
    * reference but never exercised there — makes it effective for every
    * later read, while time-travel reads at earlier versions still see
    * the schema that was current then. Legal changes: ADD a nullable
    * field (existing files read it as null), WIDEN int32→int64 /
    * float32→float64 (the reader upcasts old pages losslessly), and
    * loosen nullability. Drops, renames, narrowing and any other type
    * change would silently corrupt old data and are rejected.
    *
    * Float widening has a pruning-soundness wrinkle: old files quoted
    * min/max as `Float.toString` (e.g. "0.1"), but after widening their
    * values surface as the float's exact DOUBLE (0.100000001490…) — a
    * decimal compare of the stale stat against a double-domain literal
    * could then prune a file that matches. The evolution entry therefore
    * re-adds every current file with those stats requoted to the exact
    * decimal of `parseFloat(stat).toDouble` (replay replaces adds by
    * path), so pruning stays exact; earlier versions keep the
    * float-quoted stats that match their float-typed schema.
    */
  def evolveSchema(table: String, newSchema0: TableSchema,
                   txnId: String): CommitResult =
    commitEntry(table, txnId, None) { snap =>
      val current = schemaOf(snap)
      // CHECK constraints ride along: a caller evolving fields need
      // not restate them (None inherits), but restating them
      // DIFFERENTLY would silently disable enforcement for rows the
      // old predicate rejected — refuse anything but an exact echo
      val newSchema1 =
        if (newSchema0.check_constraints.isEmpty)
          newSchema0.copy(check_constraints = current.check_constraints)
        else if (newSchema0.checks == current.checks) newSchema0
        else throw new LakeValidationException(
          "schema evolution cannot add, drop or change CHECK constraints")
      // bloom columns inherit the same way: a caller evolving fields
      // that omits them must not silently stop sidecar builds on
      // every later write (the pruning regression is invisible until
      // point lookups slow down) — previously each API caller had to
      // re-thread them by hand
      val newSchema2 =
        if (newSchema1.bloom_columns.isEmpty)
          newSchema1.copy(bloom_columns = current.bloom_columns)
        else newSchema1
      val newSchema =
        if (newSchema2.generated_columns.isEmpty)
          newSchema2.copy(generated_columns = current.generated_columns)
        else if (newSchema2.generated == current.generated) newSchema2
        else throw new LakeValidationException(
          "schema evolution cannot add, drop or change generated columns")
      validateSchema(newSchema)
      if (newSchema.partCols != current.partCols)
        throw new LakeValidationException(
          "schema evolution cannot change partition columns")
      current.fields.foreach { f =>
        val kept = newSchema.fields.find(_.name == f.name).getOrElse(
          throw new LakeValidationException(
            s"schema evolution cannot drop field ${f.name}"))
        if (kept.`type` != f.`type` &&
            !Widenings.contains((f.`type`, kept.`type`)))
          throw new LakeValidationException(
            s"schema evolution cannot change type of ${f.name} " +
              s"(${f.`type`} -> ${kept.`type`}; only int32->int64 and " +
              "float32->float64 widen losslessly)")
        // tightening nullability would declare old files' nulls away —
        // Catalyst trusts non-nullability and mis-optimizes over them
        if (f.nullable && !kept.nullable)
          throw new LakeValidationException(
            s"schema evolution cannot make ${f.name} non-nullable " +
              "(existing files may contain nulls)")
      }
      newSchema.fields.filterNot(f =>
        current.fields.exists(_.name == f.name)).foreach { added =>
        if (!added.nullable) throw new LakeValidationException(
          s"new field ${added.name} must be nullable (old files lack it)")
      }
      // column-mapping invariants: physical names are immutable and
      // inherited (callers restate fields logically); an ADDED field
      // whose name collides with a live or retired PHYSICAL name gets
      // a fresh unique physical name — otherwise it would read the
      // old column's stale bytes out of pre-existing files
      val currentByName = current.fields.map(f => f.name -> f).toMap
      val takenPhys = current.fields.map(_.phys).toSet ++ current.retired
      val mappedFields = newSchema.fields.map { f =>
        currentByName.get(f.name) match {
          case Some(cur) =>
            if (f.physical_name.exists(_ != cur.phys))
              throw new LakeValidationException(
                s"schema evolution cannot change the physical name " +
                  s"of ${f.name}")
            f.copy(physical_name = cur.physical_name)
          case None =>
            if (takenPhys.contains(f.name))
              f.copy(physical_name = Some(s"${f.name}__p${snap.version + 1}"))
            else f
        }
      }
      val mappedSchema = newSchema.copy(fields = mappedFields,
        retired_columns = current.retired_columns)
      // stats keys below are PHYSICAL names
      val floatWidened = current.fields.filter(f =>
        f.`type` == "float32" && newSchema.fields
          .exists(k => k.name == f.name && k.`type` == "float64"))
        .map(_.phys).toSet
      def requote(m: Map[String, String]): Map[String, String] =
        m.map { case (c, v) =>
          c -> (if (floatWidened(c))
            new java.math.BigDecimal(
              java.lang.Float.parseFloat(v).toDouble).toPlainString
          else v)
        }
      val restated =
        if (floatWidened.isEmpty) Nil
        else snap.files
          .filter(_.stats.exists(st =>
            (st.min_values.keySet ++ st.max_values.keySet)
              .exists(floatWidened)))
          // rewrite = true: replay replaces the add in place, and the
          // CDC feed / MV delta must NOT re-deliver these rows
          .map(f => f.copy(rewrite = true,
            stats = f.stats.map(st => st.copy(
              min_values = requote(st.min_values),
              max_values = requote(st.max_values)))))
      (Some(mappedSchema), restated, Nil)
    }

  /** Partition-spec evolution (Iceberg `UpdatePartitionSpec`): change the
    * partition columns for FUTURE writes in one metadata-only commit.
    * Existing files keep the layout (and the log-carried partition map)
    * they were written under — readers reattach each file's OWN values,
    * so a snapshot may mix layouts indefinitely; nothing rewrites. This
    * is the whole point of spec evolution at 100 TB: repartitioning
    * yesterday's petabyte to adopt a better layout for tomorrow's
    * writes would be the scale failure, not the feature.
    * [[evolveSchema]] deliberately refuses partition edits — field and
    * layout evolution stay separate verbs with separate validation. */
  def alterPartitioning(table: String, newPartCols: Seq[String],
                        txnId: String): CommitResult =
    commitEntry(table, txnId, None) { snap =>
      val current = schemaOf(snap)
      if (current.partCols == newPartCols)
        throw new LakeValidationException(
          s"table $table is already partitioned by " +
            s"(${newPartCols.mkString(", ")})")
      val newSchema = current.copy(partition_columns =
        if (newPartCols.isEmpty) None else Some(newPartCols))
      validateSchema(newSchema)
      (Some(newSchema), Nil, Nil)
    }

  /** Persist ANALYZE results (advisory; stringified like file stats). */
  def setTableStats(table: String,
                    stats: Map[String, Map[String, String]],
                    txnId: String): CommitResult =
    commitEntry(table, txnId, None) { snap =>
      (Some(schemaOf(snap).copy(table_stats = Some(stats))), Nil, Nil)
    }

  /** Replace the CHECK-constraint set — the commit half of ADD/DROP
    * CONSTRAINT. Callers are responsible for validating a NEW constraint
    * against existing rows first ([[LakeTable.addConstraint]] does the
    * scan); this method only refuses references to missing columns.
    * evolveSchema still refuses constraint edits — this explicit path is
    * how they change, so a field-evolution call can never smuggle one. */
  def setConstraints(table: String, checks: Map[String, String],
                     txnId: String): CommitResult =
    commitEntry(table, txnId, None) { snap =>
      (Some(schemaOf(snap).copy(check_constraints =
        if (checks.isEmpty) None else Some(checks))), Nil, Nil)
    }

  /** Shared guard for rename/drop: the column must exist, must not be a
    * partition column of the current spec or of any live file's map (its
    * name keys the log's partition maps and the hive directory layout;
    * readers take a column named in a file's map from that map, so a
    * renamed or re-added one would read NULL or stale values), and must
    * not be referenced by a CHECK constraint (constraint text holds
    * logical names; rewriting arbitrary SQL safely is not worth the risk —
    * drop the constraint first). */
  private def mappableColumn(table: String, snap: Snapshot,
                             name: String): Field = {
    val sch = schemaOf(snap)
    val f = sch.fields.find(_.name == name).getOrElse(
      throw new LakeValidationException(
        s"table $table has no column $name"))
    if (sch.partCols.contains(name) ||
        snap.files.exists(_.partition.contains(name)))
      throw new LakeValidationException(
        s"cannot rename or drop partition column $name")
    if (sch.generated.contains(name))
      throw new LakeValidationException(
        s"cannot rename or drop generated column $name")
    sch.generated.foreach { case (gc, e) =>
      if (("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
          .findFirstIn(e).isDefined)
        throw new LakeValidationException(
          s"column $name is referenced by generated column $gc's " +
            "expression; drop that column first")
    }
    sch.checks.foreach { case (cn, pred) =>
      if (("""\b""" + java.util.regex.Pattern.quote(name) + """\b""").r
          .findFirstIn(pred).isDefined)
        throw new LakeValidationException(
          s"column $name is referenced by CHECK constraint $cn; " +
            "drop the constraint before renaming or dropping the column")
    }
    f
  }

  /** ALTER TABLE ... RENAME COLUMN — metadata-only (Delta column mapping):
    * the logical name changes in the schema, the physical name in every
    * data file stays what it was at column creation, so ZERO data I/O at
    * any table size. Old snapshots keep their own schema entries, so time
    * travel sees the old name. Bloom declarations follow the rename. */
  def renameColumn(table: String, oldName: String, newName: String,
                   txnId: String): CommitResult =
    commitEntry(table, txnId, None) { snap =>
      val sch = schemaOf(snap)
      val f = mappableColumn(table, snap, oldName)
      if (sch.fields.exists(_.name == newName))
        throw new LakeValidationException(
          s"table $table already has a column $newName")
      validateSchema(TableSchema(Seq(Field(newName, f.`type`))))
      val renamed = sch.copy(
        fields = sch.fields.map(x =>
          if (x.name == oldName)
            x.copy(name = newName, physical_name = Some(x.phys))
          else x),
        bloom_columns = sch.bloom_columns.map(_.map(c =>
          if (c == oldName) newName else c)))
      (Some(renamed), Nil, Nil)
    }

  /** ALTER TABLE ... DROP COLUMN — metadata-only: the field leaves the
    * schema (reads simply never project the physical column again; the
    * bytes in existing files become dead weight until files are naturally
    * rewritten). The physical name is RETIRED so a later ADD COLUMN with
    * the same name cannot resurrect stale values. Dropping the last
    * column is refused; bloom declarations are cleaned up. */
  def dropColumn(table: String, name: String, txnId: String): CommitResult =
    commitEntry(table, txnId, None) { snap =>
      val sch = schemaOf(snap)
      val f = mappableColumn(table, snap, name)
      if (sch.fields.size == 1)
        throw new LakeValidationException(
          s"cannot drop the only column of $table")
      val dropped = sch.copy(
        fields = sch.fields.filterNot(_.name == name),
        bloom_columns = sch.bloom_columns
          .map(_.filterNot(_ == name)).filter(_.nonEmpty),
        retired_columns = Some(sch.retired :+ f.phys))
      (Some(dropped), Nil, Nil)
    }

  /** Commit with automatic OCC retry: re-resolves the base version and
    * re-validates through `plan` on each attempt (the reference's
    * transaction-manager retry loop, `transaction_manager.go:124-233`,
    * max 3 attempts). `plan` maps the fresh snapshot to (adds, removes), or
    * None to abort (e.g. a compaction input vanished).
    */
  def commitWithRetry(table: String, txnId: String, maxAttempts: Int = 3)(
      plan: Snapshot => Option[(Seq[FileAdd], Seq[String])]): Option[CommitResult] = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val snap = snapshot(table)
      plan(snap) match {
        case None => return None
        case Some((adds, removes)) =>
          try return Some(commit(table, snap.version, txnId, adds, removes))
          catch {
            case _: CommitConflictException if attempt < maxAttempts => // retry
          }
      }
    }
    throw new CommitConflictException(
      s"commit of $txnId to $table failed after $maxAttempts attempts")
  }
}

/** The one commit point of every durable lake record: log entries and
  * checkpoints, WAP staging records, refs, cross-table txn decisions,
  * policy mini-log entries and materialized-view definitions all become
  * durable through these helpers and nothing else. */
object LakeLog {

  /** The JSON shape of log entries, checkpoints and the record files
    * beside them (NON_ABSENT: a None field is omitted, so records written
    * before a field existed and records that leave it unset read alike). */
  private[lake] val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .serializationInclusion(JsonInclude.Include.NON_ABSENT)
    .build() :: ClassTagExtensions

  /** One-shot failpoint: the record whose won create throws right after
    * it became durable — the ambiguous commit, where the writer cannot
    * tell that it won. Tests arm it; production never does. */
  private[lake] val failAfterCreating = new AtomicReference[Path]()

  /** Atomically create `target` holding `content` unless it exists: true
    * when this call created it, false when the file was already there.
    * The content is fully written to a temp file first, so a visible
    * record is never torn. The create must be exclusive ACROSS PROCESSES:
    * rename(2) silently REPLACES an existing target on POSIX, while
    * link(2) fails with EEXIST atomically, so the first linker wins and
    * every loser sees false (the Raft-less analog of the reference's
    * single-sequencer exclusion, `pkg/metadata/state.go:162-164`). A
    * filesystem without hard links (UOE from the provider, or
    * EPERM/EACCES as a FileSystemException on e.g. FAT/exFAT and some
    * network mounts) falls back to check-then-rename, exclusive only
    * within the process. The parent directory must exist. Once the
    * record is durable, removing the temp file is best-effort: a failed
    * cleanup must not report a won create as an error. */
  def createIfAbsent(target: Path, content: String): Boolean = {
    val staged = Files.createTempFile(target.getParent, ".staged", ".json")
    try {
      Files.writeString(staged, content)
      val won =
        try { Files.createLink(target, staged); true }
        catch {
          // EEXIST is a FileSystemException too: match it before the
          // fallback, or a lost race would take the rename path
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: UnsupportedOperationException
               | _: java.nio.file.FileSystemException =>
            !Files.exists(target) && {
              Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
              true
            }
        }
      val armed = failAfterCreating.get
      if (won && target == armed &&
          failAfterCreating.compareAndSet(armed, null))
        throw new java.io.IOException(s"failpoint: created $target")
      won
    } finally
      try Files.deleteIfExists(staged)
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Atomic whole-file replace: readers see the old content or the new,
    * never a torn file. */
  def replace(target: Path, content: String): Unit = {
    val staged = Files.createTempFile(target.getParent, ".staged", ".json")
    try {
      Files.writeString(staged, content)
      Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally
      try Files.deleteIfExists(staged)
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** The record's content, None when it does not exist — including when a
    * concurrent writer retires it just before the read. */
  def readIfExists(p: Path): Option[String] =
    try Some(Files.readString(p))
    catch { case _: java.nio.file.NoSuchFileException => None }
}
