package graft.lake

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}

/** Column masking policies — the governance face beside [[Redact]]
  * (PII span scrubbing in the data), [[graft.operators.Anonymize]]
  * (k-anon/l-div/t-close release gates) and [[Forget]] (erasure):
  * masks rewrite columns AT READ TIME per caller role, so one physical
  * table serves both the privileged pipeline and the restricted
  * analyst without copying data — Snowflake/Databricks column-mask
  * semantics on lake primitives.
  *
  * A policy is (column → mask SQL expression, exempt roles). Policies
  * persist as a VERSIONED mini-log under `_masks/` beside the table
  * (versionless with respect to table time travel, like `_wap` staging
  * records — masks govern READS and are deliberately not part of
  * time-travelable table state: revoking a mask must never be undone
  * by reading an old snapshot). Every mutation is OCC over that
  * mini-log with the lake's own commit point — create the next version
  * number through [[LakeLog.createIfAbsent]], retry when it exists — so:
  *
  *  - a crash mid-write leaves only an invisible temp file, never a
  *    truncated policy (the commit point is the atomic link);
  *  - two concurrent mutators (two SET MASKs on different columns,
  *    even from different PROCESSES) serialize through version-number
  *    collisions and both land — a lost mask update would be a silent
  *    data-exposure event, the one failure mode a governance control
  *    must not have;
  *  - reads FAIL CLOSED: an unparseable newest policy entry refuses
  *    masked reads with a governance error instead of crashing with a
  *    JSON stack trace or — worse — falling back to an older, more
  *    permissive policy.
  *
  * ALL mask expressions are applied against the RAW row in one
  * projection: a mask referencing another masked column sees the raw
  * value regardless of policy file order (order-independent by
  * construction, not by the accident of install sequence).
  *
  * Scale shape: masking is a projection — zero extra shuffles, codegen
  * inlines the mask expressions into the scan's project, and column
  * pruning/file skipping on UNMASKED columns are untouched.
  */
/** The shared versioned-policy commit device ([[Masking]] `_masks/`,
  * [[RowFilter]] `_rowfilters/`): an OCC mini-log of JSON entries
  * committed through [[LakeLog.createIfAbsent]]. A visible entry is
  * never torn, a losing racer re-reads the winner's content and
  * reapplies, and every mutation lands exactly once as one new
  * version. */
private[lake] object PolicyLog {

  def entryPath(dir: Path, v: Long): Path = dir.resolve(f"$v%020d.json")

  /** Newest committed version in `dir`, 0 when none. */
  def currentVersion(dir: Path): Long = {
    if (!Files.isDirectory(dir)) return 0L
    val s = Files.list(dir)
    try {
      var max = 0L
      s.iterator().forEachRemaining { p =>
        val n = p.getFileName.toString
        if (n.endsWith(".json") && !n.startsWith("."))
          try max = math.max(max, n.stripSuffix(".json").toLong)
          catch { case _: NumberFormatException => }
      }
      max
    } finally s.close()
  }

  /** OCC read-modify-write: `transform` sees nothing (it re-reads its
    * own current state) and returns the next entry's content; a lost
    * create means another mutator won version N+1 — loop so the
    * transform reapplies over THEIR state and no update is ever lost
    * (the [[LakeLog.commitWithRetry]] discipline, scoped to policy
    * metadata). */
  def commit(what: String, dir: Path)(transform: () => String): Unit = {
    Files.createDirectories(dir)
    var attempts = 0
    while (true) {
      attempts += 1
      val base = currentVersion(dir)
      if (LakeLog.createIfAbsent(entryPath(dir, base + 1), transform()))
        return
      if (attempts >= 100)
        throw new LakeValidationException(
          s"$what: lost $attempts OCC races in a row — giving up")
    }
  }

  /** Newest entry's content, None when the log is empty. Unreadable
    * files surface as IO errors for the caller's fail-closed parse. */
  def readNewest(dir: Path): Option[Path] = {
    val v = currentVersion(dir)
    if (v == 0L) None else Some(entryPath(dir, v))
  }

  /** Retention sweep — the mini-log's checkpoint discipline: every
    * entry is the FULL catalog, so versions older than the newest
    * `keep` are pure history and deleting them never moves the commit
    * point (currentVersion is the max; the next OCC commit still lands
    * at max+1, keeping the version line gapless going forward). The
    * newest entry always survives (`keep ≥ 1` enforced), so fail-closed
    * reads are untouched; `keep` defaults high enough that a reader
    * racing a mutation+vacuum across processes never has its resolved
    * version deleted underneath it in practice. Invisible `.staged`
    * temps from crashed mutators are NOT swept (an in-flight commit's
    * temp must never vanish between write and link — a crashed temp is
    * bytes, not correctness). Returns the number of entries deleted. */
  def vacuum(dir: Path, keep: Int = 8): Int = {
    require(keep >= 1, s"vacuum must keep at least the newest entry")
    if (!Files.isDirectory(dir)) return 0
    val cutoff = currentVersion(dir) - keep
    if (cutoff <= 0) return 0
    var n = 0
    val s = Files.list(dir)
    try s.iterator().forEachRemaining { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".json") && !name.startsWith(".")) {
        val v = try name.stripSuffix(".json").toLong
          catch { case _: NumberFormatException => Long.MaxValue }
        if (v <= cutoff && Files.deleteIfExists(p)) n += 1
      }
    } finally s.close()
    n
  }
}

object Masking {

  final case class Mask(column: String, expr: String,
                        exempt_roles: Seq[String] = Nil)
  final case class Policy(masks: Seq[Mask])

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule).build() :: ClassTagExtensions

  private def masksDir(log: LakeLog, table: String): Path =
    log.tableDir(table).resolve("_masks")

  /** Pre-mini-log location (single mutable file) — read-only fallback so
    * policies written by older builds keep governing reads. */
  private def legacyPath(log: LakeLog, table: String): Path =
    log.tableDir(table).resolve("_masks.json")

  private def parseOrFailClosed(table: String, p: Path): Policy =
    try mapper.readValue[Policy](Files.readString(p))
    catch {
      case e: Exception =>
        // fail CLOSED: an unreadable policy must refuse reads, never
        // crash opaquely or silently serve raw/stale-masked data
        throw new LakeValidationException(
          s"mask policy for table $table is unreadable ($p: " +
            s"${e.getMessage}) — refusing masked reads until an " +
            "operator repairs or re-sets the policy (fail-closed)")
    }

  /** Install or replace the mask for one column. Validates the column
    * exists and the mask expression preserves its type; commits via the
    * OCC mini-log so concurrent mutators (any process) never lose each
    * other's policies. */
  def setMask(spark: SparkSession, log: LakeLog, table: String,
              column: String, maskExpr: String,
              exemptRoles: Seq[String] = Nil): Unit = {
    val sch = log.snapshot(table).schema.getOrElse(
      throw new LakeValidationException(s"table $table has no schema"))
    if (!sch.fields.exists(_.name == column))
      throw new LakeValidationException(
        s"table $table has no column $column")
    val st = LakeTable.toStructType(sch)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    val masked = try empty.withColumn(column, expr(maskExpr))
    catch { case e: Exception => throw new LakeValidationException(
      s"mask for $table.$column does not analyze: ${e.getMessage}") }
    val orig = st(column).dataType
    val got = masked.schema(column).dataType
    if (got != orig)
      throw new LakeValidationException(
        s"mask for $table.$column changes its type ($orig → $got) — " +
          "masked reads must be drop-in for consumers")
    mutate(log, table) { cur =>
      Policy(cur.masks.filterNot(_.column == column) :+
        Mask(column, maskExpr, exemptRoles))
    }
  }

  def dropMask(log: LakeLog, table: String, column: String): Unit =
    mutate(log, table) { cur =>
      Policy(cur.masks.filterNot(_.column == column))
    }

  /** OCC read-modify-write over the [[PolicyLog]]: the transform re-reads
    * the current policy on every attempt, so a losing racer reapplies
    * over the winner's state and no concurrent update is ever lost. */
  private def mutate(log: LakeLog, table: String)(f: Policy => Policy)
      : Unit =
    PolicyLog.commit(s"mask policy on $table", masksDir(log, table)) { () =>
      mapper.writeValueAsString(f(policy(log, table)))
    }

  /** The governing policy: newest mini-log entry, else the legacy
    * single-file location, else empty. Unparseable files fail closed. */
  def policy(log: LakeLog, table: String): Policy =
    PolicyLog.readNewest(masksDir(log, table)) match {
      case Some(p) => parseOrFailClosed(table, p)
      case None =>
        val legacy = legacyPath(log, table)
        if (Files.exists(legacy)) parseOrFailClosed(table, legacy)
        else Policy(Nil)
    }

  /** Rewrite `df`'s columns under the policy for `role`, all masks built
    * against `df`'s RAW columns in ONE projection (policy-order
    * independence). Shared by [[readMasked]] and the combined
    * [[RowFilter.readGoverned]] face. */
  def applyMasks(df: DataFrame, pol: Policy, role: String): DataFrame = {
    val active = pol.masks
      .filterNot(_.exempt_roles.contains(role))
      .map(m => m.column -> m.expr).toMap
    if (active.isEmpty) df
    else df.select(df.columns.map(c =>
      active.get(c).map(e => expr(e).as(c)).getOrElse(col(c))).toSeq: _*)
  }

  /** Retention sweep over the `_masks/` mini-log ([[PolicyLog.vacuum]]):
    * entries older than the newest `keep` go; the governing policy, the
    * commit point and fail-closed reads are untouched. */
  def vacuumPolicyLog(log: LakeLog, table: String, keep: Int = 8): Int =
    PolicyLog.vacuum(masksDir(log, table), keep)

  /** The role-gated read: every mask whose exempt list does not carry
    * `role` rewrites its column; exempt roles read raw. Projection only —
    * pruning and stats skipping on other columns unchanged. */
  def readMasked(spark: SparkSession, log: LakeLog, table: String,
                 role: String, version: Long = 0L): DataFrame =
    applyMasks(LakeTable.readIndexed(spark, log, table, version),
      policy(log, table), role)
}
