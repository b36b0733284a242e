package graft.lake

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Slowly-changing-dimension Type 2 (Kimball) maintenance over a lake
  * table: every attribute change CLOSES the key's current row (stamps
  * `eff_to`, clears `is_current`) and OPENS a new version, so the
  * dimension answers both "what is it now" (`is_current = 1`) and "what
  * was it when" (`eff_from ≤ t < eff_to`) — the history face a
  * training-data pipeline needs to join facts against the dimension AS
  * OF the fact's time, not as of today.
  *
  * Rows key on a surrogate `scd_id = <key>#<eff_from>`, so one ACID
  * [[LakeTable.upsert]] applies a whole batch: closed rows REPLACE
  * their open predecessor (same scd_id), opened rows insert under a new
  * scd_id — one OCC commit, idempotent under the txn map like every
  * lake write. `eff_from`/`eff_to` are caller-supplied integers (batch
  * sequence numbers, epoch days) — exact cross-engine, no wall clocks.
  *
  * Scale shape: the change detection is ONE key-equi-join of the batch
  * against the CURRENT slice (never the full history), null-safe
  * `<=>` comparison per tracked column, and the write path inherits
  * upsert's stat-pruned file rewrite — files outside the batch's key
  * range are untouched. No-op re-sends (the common CDC echo) produce
  * NO new versions by construction.
  */
object Scd {

  val MetaCols: Seq[String] = Seq("scd_id", "eff_from", "eff_to", "is_current")

  /** Create the dimension table: batch columns + SCD2 bookkeeping. */
  def create(log: LakeLog, table: String, batchSchema: StructType): Unit = {
    val meta = Seq(
      StructField("scd_id", StringType, nullable = false),
      StructField("eff_from", LongType, nullable = false),
      StructField("eff_to", LongType, nullable = true),
      StructField("is_current", IntegerType, nullable = false))
    LakeTable.createTable(log, table,
      StructType(batchSchema.fields.toSeq ++ meta))
  }

  /** Apply one change batch effective at `effAt`. Batch rows carry the
    * key + tracked columns only; keys must be unique within a batch
    * (CDC compaction upstream — last-image batches, not event logs). */
  def applyBatch(spark: SparkSession, log: LakeLog, table: String,
                 batch: DataFrame, keyCol: String, trackedCols: Seq[String],
                 effAt: Long,
                 txnId: String = UUID.randomUUID().toString): CommitResult = {
    require(trackedCols.nonEmpty, "SCD2 needs at least one tracked column")
    val replayed = log.committedVersion(table, txnId)
    if (replayed.isDefined)
      return CommitResult(replayed.get, duplicate = true)
    val dups = batch.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).count()
    if (dups > 0)
      throw new LakeValidationException(
        s"batch has duplicate '$keyCol' values — compact to last-image " +
          "rows before applying (SCD2 batches are states, not events)")

    val cur = LakeTable.read(spark, log, table)
      .filter(col("is_current") === 1)
    val b = batch.select((keyCol +: trackedCols).map(col): _*).alias("b")
    val c = cur.alias("c")
    val joined = b.join(c, col(s"b.$keyCol") === col(s"c.$keyCol"), "left")

    val differs = trackedCols
      .map(tc => !(col(s"b.$tc") <=> col(s"c.$tc")))
      .reduce(_ || _)
    val changed = joined.filter(col(s"c.scd_id").isNotNull && differs)
    val fresh = joined.filter(col(s"c.scd_id").isNull)

    // closed predecessors keep their scd_id → upsert REPLACES them
    val closes = changed.select(
      (Seq(col(s"c.$keyCol").as(keyCol)) ++
        trackedCols.map(tc => col(s"c.$tc").as(tc)) ++ Seq(
        col("c.scd_id").as("scd_id"),
        col("c.eff_from").as("eff_from"),
        lit(effAt).as("eff_to"),
        lit(0).as("is_current"))): _*)
    def opened(src: DataFrame) = src.select(
      (Seq(col(s"b.$keyCol").as(keyCol)) ++
        trackedCols.map(tc => col(s"b.$tc").as(tc)) ++ Seq(
        concat(col(s"b.$keyCol").cast("string"), lit("#"),
          lit(effAt).cast("string")).as("scd_id"),
        lit(effAt).as("eff_from"),
        lit(null).cast("long").as("eff_to"),
        lit(1).as("is_current"))): _*)

    val delta = closes.unionByName(opened(changed)).unionByName(opened(fresh))
      .localCheckpoint() // read once for the guard, once by upsert
    if (delta.isEmpty)
      // an all-echo batch (the steady-state CDC case) must not pay
      // upsert's jobs: with no keys it rewrites no file, but still runs
      // its key-range probe and new-row write. It still REGISTERS
      // under its txnId (an empty commit entry) so idempotency is a
      // durable fact, not a bet that a replay recomputes the same echo
      // — reusing the id later with different data short-circuits as a
      // duplicate like every other lake write.
      log.commitWithRetry(table, txnId)(_ => Some((Nil, Nil))).get
    else LakeTable.upsert(spark, log, table, delta, "scd_id", txnId)
  }

  /** The dimension AS OF integer time `t`: the row version whose
    * validity interval contains it. */
  def asOf(spark: SparkSession, log: LakeLog, table: String,
           t: Long): DataFrame =
    LakeTable.read(spark, log, table)
      .filter(col("eff_from") <= t &&
        (col("eff_to").isNull || col("eff_to") > t))

  /** Point-in-time fact enrichment: each fact joins the dimension
    * version VALID AT ITS OWN TIME — the join every history-aware
    * pipeline needs ("credit the order to the segment the customer was
    * in WHEN they ordered", not today's). Plan shape: an EQUI-join on
    * the business key with the validity interval as a post-join filter
    * — per key the dimension holds few versions (bounded by change
    * count), so the filter discards a handful of rows per fact and no
    * range-join machinery is warranted; the shuffle is the key
    * equi-join's, same as a non-temporal enrichment. */
  def joinAsOf(facts: DataFrame, dim: DataFrame, keyCol: String,
               factKeyCol: String, factTimeCol: String): DataFrame =
    facts.join(dim,
      facts(factKeyCol) === dim(keyCol) &&
        dim("eff_from") <= facts(factTimeCol) &&
        (dim("eff_to").isNull || dim("eff_to") > facts(factTimeCol)),
      "left")
}
