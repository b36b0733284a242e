package graft.lake

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import LakeLog.mapper

/** Write-audit-publish — Iceberg's WAP pattern (`spark.wap.id` staged
  * snapshots) for the lake: a new batch lands as REAL data files with
  * real stats, but in a staged commit main-line readers cannot see;
  * audit queries (row counts, gate metrics, dedup probes) run against
  * the staged overlay; only a passing audit publishes the batch as an
  * atomic OCC commit. The curation use is exactly the reference corpus
  * pipeline's shape: a crawl batch must pass quality/dedup gates BEFORE
  * any training job can list its files — with WAP that invariant is
  * structural, not procedural.
  *
  *  - `stage` writes files through the same promote+stat path as
  *    [[LakeTable.insert]] ([[LakeTable.stageFiles]]) and records them
  *    in `tables/<t>/_wap/<wapId>.json` through
  *    [[LakeLog.createIfAbsent]], the log entries' commit point. Data is
  *    written ONCE: publish adopts the staged files by path, no rewrite.
  *  - `readStaged` = the current snapshot PLUS the staged adds — the
  *    audit's view. Main readers ([[LakeTable.read]]) never see staged
  *    files because snapshots only list committed adds.
  *  - `publish` commits the staged adds under txn id `wap-<wapId>`
  *    (idempotent: a replayed publish returns the original version) and
  *    removes the staging record. Staged batches are APPEND-ONLY, so a
  *    publish composes with any interleaved main-line commit — the OCC
  *    retry re-bases like every insert.
  *  - `abort` deletes the staged files and the record; a crashed stage
  *    attempt's leftovers age out via VACUUM's `_tmp` sweep plus
  *    [[listStaged]]-driven abort.
  */
object Wap {

  final case class StagedBatch(wap_id: String, base_version: Long,
                               created_ms: Long, adds: Seq[FileAdd])

  private def wapDir(log: LakeLog, table: String): Path =
    log.tableDir(table).resolve("_wap")

  private def wapPath(log: LakeLog, table: String, wapId: String): Path =
    wapDir(log, table).resolve(s"$wapId.json")

  /** Stage `df` as an unpublished batch. Fails if `wapId` is already
    * staged (stage ids are single-use; publish/abort consume them). */
  def stage(spark: SparkSession, log: LakeLog, table: String,
            df: DataFrame, wapId: String, numFiles: Int = 1): StagedBatch = {
    require(wapId.nonEmpty && !wapId.contains('/'), s"bad wap id '$wapId'")
    // an already-PUBLISHED id must replay as a no-op, not restage: the
    // publish txn map is the durable record
    log.committedVersion(table, s"wap-$wapId").foreach(v =>
      throw new LakeValidationException(
        s"wap id '$wapId' was already published as version $v of $table"))
    if (Files.exists(wapPath(log, table, wapId)))
      throw new LakeValidationException(
        s"wap id '$wapId' is already staged on $table (publish or abort it)")
    val adds = LakeTable.stageFiles(spark, log, table, df,
      txnId = s"wap-$wapId", numFiles = numFiles)
    val batch = StagedBatch(wapId, log.latestVersion(table),
      System.currentTimeMillis(), adds)
    Files.createDirectories(wapDir(log, table))
    if (!LakeLog.createIfAbsent(wapPath(log, table, wapId),
        mapper.writeValueAsString(batch))) {
      // lost a concurrent stage race for the same id: our files are
      // orphans, the winner's record stands
      LakeTable.discardAdds(adds)
      throw new LakeValidationException(
        s"wap id '$wapId' is already staged on $table (publish or abort it)")
    }
    batch
  }

  /** The staged batch, None when not staged — also when a concurrent
    * publish/abort retires the record as it is read; the caller's
    * txn-map fallback resolves what happened to it. */
  def staged(log: LakeLog, table: String, wapId: String): Option[StagedBatch] =
    LakeLog.readIfExists(wapPath(log, table, wapId))
      .map(mapper.readValue[StagedBatch](_))

  def listStaged(log: LakeLog, table: String): Seq[StagedBatch] = {
    val dir = wapDir(log, table)
    if (!Files.isDirectory(dir)) return Nil
    val names = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toList
      finally s.close()
    }
    names.filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json")).sorted
      .flatMap(id => staged(log, table, id))
  }

  /** The audit's view: current committed snapshot + the staged adds. */
  def readStaged(spark: SparkSession, log: LakeLog, table: String,
                 wapId: String): DataFrame = {
    val b = staged(log, table, wapId).getOrElse(
      throw new LakeValidationException(
        s"no staged wap batch '$wapId' on $table"))
    val snap = log.snapshot(table)
    LakeTable.readFiles(spark, log.schemaOf(snap), snap.files ++ b.adds)
  }

  /** Just the staged batch's rows (no main-line data) — the face an
    * audit gate uses to score the NEW data alone (rate-of-junk checks,
    * schema drift) while [[readStaged]] supplies the overlay for
    * history-relative checks (duplicates against accepted data). */
  def readBatch(spark: SparkSession, log: LakeLog, table: String,
                wapId: String): DataFrame = {
    val b = staged(log, table, wapId).getOrElse(
      throw new LakeValidationException(
        s"no staged wap batch '$wapId' on $table"))
    LakeTable.readFiles(spark, log.schemaOf(log.snapshot(table)), b.adds)
  }

  /** Publish the staged batch: one OCC commit adopting the staged files.
    * Idempotent — a replay (crash between commit and record removal,
    * client retry) returns the originally committed version. */
  def publish(spark: SparkSession, log: LakeLog, table: String,
              wapId: String, maxAttempts: Int = 3): CommitResult = {
    val txn = s"wap-$wapId"
    log.committedVersion(table, txn) match {
      case Some(v) =>
        Files.deleteIfExists(wapPath(log, table, wapId)) // finish cleanup
        CommitResult(v, duplicate = true)
      case None =>
        val b = staged(log, table, wapId).getOrElse(
          throw new LakeValidationException(
            s"no staged wap batch '$wapId' on $table"))
        val res = log.commitWithRetry(table, txn, maxAttempts)(
          _ => Some((b.adds, Nil))).get
        Files.deleteIfExists(wapPath(log, table, wapId))
        res
    }
  }

  /** Abort: delete the staged files and the staging record. Idempotent
    * (aborting an unknown id is a no-op — the crash-recovery sweep calls
    * this for every leftover id). Refuses to abort a PUBLISHED id: its
    * files are committed table data. */
  def abort(log: LakeLog, table: String, wapId: String): Unit = {
    log.committedVersion(table, s"wap-$wapId").foreach(v =>
      throw new LakeValidationException(
        s"wap id '$wapId' was published as version $v of $table — " +
          "aborting would delete committed data"))
    staged(log, table, wapId).foreach { b =>
      LakeTable.discardAdds(b.adds)
      Files.deleteIfExists(wapPath(log, table, wapId))
    }
  }
}
