package graft.lake

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import LakeLog.mapper

/** Cross-table atomic transactions, layered over per-table [[Wap]]
  * staging and one catalog-level decision record — the move Iceberg
  * REST catalogs make for multi-table commits, rebuilt on this lake's
  * primitives. A curation pipeline needs it wherever two tables must
  * move together: documents + their inverted-index postings, a
  * dimension + its aggregate, data + its dataset card.
  *
  * Protocol (presumed-abort two-phase commit, single coordinator):
  *
  *  1. PREPARE — `stage` writes each table's batch through the WAP path
  *     (real data files, invisible to main-line readers; wap id = the
  *     txn id, one per table).
  *  2. DECIDE — `commit` validates every participant is staged, then
  *     creates `_txns/<id>.json` through [[LakeLog.createIfAbsent]], the
  *     log entries' commit point. THE EXISTENCE OF THIS FILE is the
  *     transaction's atomic yes: before it, recovery aborts the stage;
  *     after it, recovery rolls the publish forward. Two coordinators
  *     racing the same id get one winner.
  *  3. ROLL FORWARD — each staged batch publishes as its table's normal
  *     OCC commit under txn id `wap-<id>` (idempotent via the log's txn
  *     map, so a crash mid-loop re-publishes safely). The decision file
  *     is then atomically replaced by `_txns/<id>.done.json` carrying
  *     the published (table → version) map — the durable consistent
  *     cross-table snapshot, readable via [[readAt]].
  *
  * Isolation note, stated honestly: per-table reads are snapshot-
  * isolated as always; a reader scanning BOTH tables mid-roll-forward
  * can observe table A published before table B (the classic layered-
  * 2PC window). [[readAt]] closes it after the fact — version-pinned
  * reads of the recorded snapshot; readers needing strict cross-table
  * isolation read through it (or through [[Refs]] branches promoted
  * from it). Durability is all-or-nothing unconditionally: [[recover]]
  * drives every decided txn to done and aborts every undecided stage.
  */
object MultiTxn {

  /** (table → published version) pair — a case class, not a Map, so
    * Jackson round-trips the Long without boxing it back as Integer. */
  final case class TableVersion(table: String, version: Long)

  /** `body_hash`: optional caller-supplied fingerprint of the statement
    * list that decided this txn (the SQL txn-block face records one) —
    * lets an idempotent replay distinguish "same script retried" from
    * "txn id reused with different statements", which must refuse
    * instead of silently no-opping onto the old versions. Absent for
    * programmatic callers; old records deserialize to None. */
  final case class TxnRecord(txn_id: String, tables: Seq[String],
                             created_ms: Long,
                             versions: Option[Seq[TableVersion]] = None,
                             body_hash: Option[String] = None) {
    def versionMap: Map[String, Long] =
      versions.getOrElse(Nil).map(tv => tv.table -> tv.version).toMap
  }

  private def txnsDir(log: LakeLog): Path = log.root.resolve("_txns")
  private def intentPath(log: LakeLog, id: String): Path =
    txnsDir(log).resolve(s"$id.json")
  private def donePath(log: LakeLog, id: String): Path =
    txnsDir(log).resolve(s"$id.done.json")

  /** PREPARE one participant: stage `df` on `table` under this txn.
    * Rejects staging into an already-decided transaction. */
  def stage(spark: SparkSession, log: LakeLog, txnId: String, table: String,
            df: DataFrame, numFiles: Int = 1): Unit = {
    require(txnId.nonEmpty && !txnId.contains('/') && !txnId.contains('.'),
      s"bad txn id '$txnId'")
    if (Files.exists(intentPath(log, txnId)) ||
        Files.exists(donePath(log, txnId)))
      throw new LakeValidationException(
        s"txn '$txnId' is already decided — cannot stage more writes")
    Wap.stage(spark, log, table, df, wapId = txnId, numFiles = numFiles)
  }

  /** DECIDE + ROLL FORWARD: atomically commit every staged participant.
    * Returns the published (table → version) map. Idempotent — a replay
    * (or a crash-recovery re-drive) returns the recorded versions. */
  def commit(spark: SparkSession, log: LakeLog, txnId: String,
             tables: Seq[String], bodyHash: Option[String] = None)
      : Map[String, Long] = {
    require(tables.nonEmpty, "a transaction needs at least one table")
    if (!done(log, txnId).isDefined && !Files.exists(intentPath(log, txnId))) {
      // validate EVERY participant is staged before deciding — a decision
      // over a missing stage could never roll forward
      val missing = tables.filterNot(t =>
        Wap.staged(log, t, txnId).isDefined ||
          log.committedVersion(t, s"wap-$txnId").isDefined)
      if (missing.nonEmpty)
        throw new LakeValidationException(
          s"txn '$txnId' has no staged batch on: ${missing.mkString(", ")}")
      // ... and the converse: a participant staged under this txn id but
      // OMITTED from the commit list would be silently orphaned (once the
      // intent exists, stage refuses re-staging and abort refuses
      // entirely). Deciding over a partial list is a caller bug — fail
      // loudly before the point of no return.
      val omitted = log.listTables().filterNot(tables.contains)
        .filter(t => Wap.staged(log, t, txnId).isDefined)
      if (omitted.nonEmpty)
        throw new LakeValidationException(
          s"txn '$txnId' has staged batches on tables missing from the " +
            s"commit list: ${omitted.mkString(", ")} — include them or " +
            "abort the txn")
      val rec = TxnRecord(txnId, tables.sorted, System.currentTimeMillis(),
        body_hash = bodyHash)
      if (!createIfAbsent(intentPath(log, txnId), rec)) {
        // lost the decision race: the winner's participant list rules.
        // The winner may already have retired its intent into the done
        // record between our create attempt and this read.
        val existing = intent(log, txnId).orElse(done(log, txnId))
          .getOrElse(throw new LakeValidationException(
            s"torn txn record at ${intentPath(log, txnId)}"))
        if (existing.tables != rec.tables)
          throw new LakeValidationException(
            s"txn '$txnId' was decided concurrently over different " +
              s"tables (${existing.tables.mkString(", ")})")
        if (existing.body_hash.isDefined && bodyHash.isDefined &&
            existing.body_hash != bodyHash)
          throw new LakeValidationException(
            s"txn '$txnId' was decided concurrently with a different " +
              "statement body (reused txn id?)")
      }
    }
    rollForward(spark, log, txnId)
  }

  /** Drive a DECIDED txn to done: publish every participant (idempotent
    * per table via the log's txn map), record versions, retire the
    * intent. Safe to call repeatedly and from crash recovery. */
  def rollForward(spark: SparkSession, log: LakeLog, txnId: String)
      : Map[String, Long] = done(log, txnId) match {
    case Some(r) =>
      // sweep any lingering intent: a coordinator that lost the decision
      // race can RE-CREATE the intent file after the winner already
      // retired it (its create-if-absent races the winner's delete) —
      // harmless for data, but without this sweep recover() would list
      // the finished txn as pending forever
      Files.deleteIfExists(intentPath(log, txnId))
      r.versionMap
    case None => intent(log, txnId) match {
      case None =>
        // a concurrent driver may have finished (intent already retired)
        // between our done-check and intent-read — re-check before failing
        done(log, txnId).map(_.versionMap).getOrElse(
          throw new LakeValidationException(
            s"txn '$txnId' was never decided — nothing to roll forward"))
      case Some(rec) =>
      val versions = rec.tables.map { t =>
        // TOCTOU-safe publish: a racing driver can commit AND retire the
        // staged record between publish's two checks — the txn map is
        // the durable truth, so consult it before surfacing the error
        val v = try Wap.publish(spark, log, t, txnId).version
        catch {
          case e: LakeValidationException =>
            log.committedVersion(t, s"wap-$txnId").getOrElse(throw e)
        }
        TableVersion(t, v)
      }
      val doneRec = rec.copy(versions = Some(versions))
      createIfAbsent(donePath(log, txnId), doneRec) // first writer wins
      Files.deleteIfExists(intentPath(log, txnId))
      done(log, txnId).get.versionMap
    }
  }

  /** Abort an UNDECIDED txn: discard every staged batch. Refuses after
    * the decision point — a decided txn can only roll forward. */
  def abort(log: LakeLog, txnId: String, tables: Seq[String]): Unit = {
    if (Files.exists(intentPath(log, txnId)) ||
        Files.exists(donePath(log, txnId)))
      throw new LakeValidationException(
        s"txn '$txnId' is decided — it can only roll forward, not abort")
    tables.foreach(t => Wap.abort(log, t, txnId))
  }

  /** Crash recovery: every decided-but-unfinished txn rolls forward.
    * Undecided stages are NOT touched (they may belong to a live
    * coordinator — abort them explicitly by id). Returns the txn ids
    * driven to done. */
  def recover(spark: SparkSession, log: LakeLog): Seq[String] = {
    val dir = txnsDir(log)
    if (!Files.isDirectory(dir)) return Nil
    val names = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toList
      finally s.close()
    }
    val pending = names.filter(n => n.endsWith(".json") &&
      !n.endsWith(".done.json") && !n.startsWith("."))
      .map(_.stripSuffix(".json")).sorted
    pending.foreach(id => rollForward(spark, log, id))
    pending
  }

  def intent(log: LakeLog, txnId: String): Option[TxnRecord] =
    readRec(intentPath(log, txnId))

  def done(log: LakeLog, txnId: String): Option[TxnRecord] =
    readRec(donePath(log, txnId))

  /** The consistent cross-table snapshot a finished txn recorded:
    * version-pinned reads of every participant. */
  def readAt(spark: SparkSession, log: LakeLog, txnId: String)
      : Map[String, DataFrame] = {
    val rec = done(log, txnId).getOrElse(throw new LakeValidationException(
      s"txn '$txnId' has not finished (no done record)"))
    rec.versionMap.map { case (t, v) =>
      t -> LakeTable.read(spark, log, t, version = v)
    }
  }

  // a racing driver can retire the intent as it is read (None) —
  // rollForward's done-record fallback covers it
  private def readRec(p: Path): Option[TxnRecord] =
    LakeLog.readIfExists(p).map(mapper.readValue[TxnRecord](_))

  /** Create-if-absent: true iff this call created the file. */
  private def createIfAbsent(target: Path, rec: TxnRecord): Boolean = {
    Files.createDirectories(target.getParent)
    LakeLog.createIfAbsent(target, mapper.writeValueAsString(rec))
  }
}
