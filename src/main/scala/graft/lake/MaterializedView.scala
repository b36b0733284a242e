package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental materialized aggregate views over lake tables, maintained
  * from the transaction log's change feed — the lakehouse capability the
  * reference's scaffolding points toward but never builds: its query plane
  * recomputes every aggregate from a full scan
  * (`pkg/coordinator/distributed_query_executor.go` plans each request
  * from the base table), while the log it keeps per table
  * (`pkg/metadata/state.go`) is exactly what incremental view maintenance
  * needs.
  *
  * An MV here is `SELECT key, count(*) AS n_rows, sum(c) AS sum_c ... GROUP
  * BY key`, materialized as a lake table of its own (so it gets OCC
  * commits, time travel and stats pruning for free). count/sum/min/max
  * are self-maintainable under appends: refresh aggregates ONLY the delta
  * files since the last refreshed base version and upserts the merged
  * totals for touched keys — O(|delta| + |touched MV rows|), never a base
  * re-scan. Derived means (sum/count) come out exact. min/max merge
  * monotonically (min of mins, max of maxes) — valid precisely because
  * the incremental path is GATED on insert-only windows; a delete could
  * raise a min, so any non-append window already takes the full-recompute
  * fallback below, which restores exactness for every aggregate at once.
  *
  * Refresh picks its mode per delta entry from the log alone (no data
  * read):
  *  - append-only entries (inserts, loads, streaming sink batches) →
  *    incremental;
  *  - layout-only entries (compaction: every add is `rewrite` and re-adds
  *    exactly the removed row count) → logically empty, skipped;
  *  - deletion-vector entries (merge-on-read deletes) → incremental TOO,
  *    for count/sum MVs: the DV enumerates exactly the deleted rows — the
  *    pre-images a copy-on-write delete lacks — so their aggregate folds
  *    in as a NEGATIVE delta ([[LakeTable.dvDeletedRows]]); min/max MVs
  *    still fall back (a delete can raise a min);
  *  - anything else (CoW delete, upsert, restore) → full recompute
  *    fallback, which is what every production IVM system does when the
  *    delta is not enumerable and no pre-images were logged.
  *
  * The refresh high-water mark lives in the MV table's OWN log: the commit
  * that applies versions `(last, cur]` carries txn id `mv-<name>-to-<cur>`.
  * That makes refresh crash-safe and exactly-once — a retried refresh
  * re-derives `last` by parsing the MV log and its upsert lands in the
  * idempotency map as a duplicate — with no sidecar state file to drift.
  *
  * JOIN MVs (`joinTable`/`joinOn`): the aggregate runs over the star
  * join fact ⋈ dim (inner, USING joinOn) — "revenue per dim attribute"
  * without re-joining per query. Fact-append windows fold incrementally
  * exactly as above (each delta row enriches through the CURRENT dim
  * before aggregating — valid because any dim commit since the last
  * refresh disqualifies the incremental path: a dim change can rewrite
  * history for already-folded fact rows, so it forces the full
  * recompute, the same honesty rule production IVM systems apply to
  * dimension updates). The folded dim version rides in the refresh txn
  * id (`mv-<name>-dim-<dimV>-to-<factV>`), so staleness-vs-dim is
  * detected from the logs alone and a dim-only change un-noops a
  * fact-current MV. The transparent rewrite rule answers the provable
  * join shape too — a GROUP BY over MV keys on exactly fact ⋈ dim when
  * the MV is fresh on BOTH tables ([[MvRewrite]] `tryRewriteJoin`);
  * anything beyond that shape keeps the conservative refusal and the
  * MV stays readable by name.
  */
object MaterializedView {

  /** View definition: group-by key, count(*) as `n_rows`, plus `sum_<c>`
    * for each of `sumCols`, `min_<c>` / `max_<c>` for `minCols` /
    * `maxCols` (kept at the base column's type). `name` is the MV's lake
    * table name.
    *
    * Composite group keys: `extraKeyCols` adds further key columns. The
    * lake upsert keys on ONE column, so a composite-key MV stores a
    * null-safe string surrogate `mv_key` (the [[Scd]] `scd_id` device)
    * as its upsert key beside the real key columns; readers and the
    * rewrite rule use the real columns, the surrogate exists only for
    * the incremental merge.
    */
  final case class MvDef(name: String, base: String, keyCol: String,
                         sumCols: Seq[String], minCols: Seq[String] = Nil,
                         maxCols: Seq[String] = Nil,
                         extraKeyCols: Seq[String] = Nil,
                         joinTable: Option[String] = None,
                         joinOn: Option[String] = None) {
    def keyCols: Seq[String] = keyCol +: extraKeyCols
    /** The physical upsert key: the key column itself, or the surrogate
      * for composite keys. */
    def upsertKey: String = if (extraKeyCols.isEmpty) keyCol else "mv_key"
  }

  /** Null-safe injective string encoding of the key tuple: per-column
    * `v<cast-to-string>` or a null marker, -joined — distinct
    * tuples always get distinct surrogates, and the surrogate is never
    * NULL (so composite-key deltas always ride the upsert merge). */
  private def surrogate(d: MvDef) =
    concat_ws("", d.keyCols.map(k =>
      coalesce(concat(lit("v"), col(k).cast("string")), lit(""))): _*)

  final case class RefreshResult(mode: String, fromVersion: Long,
                                 toVersion: Long)

  /** Refresh txn id. For JOIN MVs the folded dimension version rides in
    * the id too (`mv-<name>-dim-<dimV>-to-<factV>`) — still matched by
    * [[TxnPattern]]'s greedy prefix, so the fact high-water parse is
    * shared; [[lastDimVersion]] reads the dim token back. One id string
    * is the single durable record of BOTH versions a refresh folded —
    * no sidecar file to drift from the commit. */
  private def txnFor(d: MvDef, to: Long, dimV: Long = -1L) =
    if (d.joinTable.isEmpty) s"mv-${d.name}-to-$to"
    else s"mv-${d.name}-dim-$dimV-to-$to"
  private val TxnPattern = """mv-.*-to-(\d+)""".r
  private val DimPattern = """mv-.*-dim-(\d+)-to-\d+""".r

  /** Create the MV's backing lake table (empty; call [[refresh]] to
    * fill). For a JOIN MV the key/agg columns resolve over the JOINED
    * row (fact ⋈ dim USING joinOn) — the two sides must share ONLY the
    * join column, so every resolved name is unambiguous. */
  def create(log: LakeLog, d: MvDef): Unit = {
    val factSt = LakeTable.toStructType(log.snapshot(d.base).schema.get)
    val baseSt = d.joinTable match {
      case None => factSt
      case Some(dim) =>
        val on = d.joinOn.getOrElse(throw new IllegalArgumentException(
          s"join MV ${d.name} needs joinOn"))
        val dimSt = LakeTable.toStructType(log.snapshot(dim).schema.get)
        require(factSt.fieldNames.contains(on) &&
          dimSt.fieldNames.contains(on),
          s"join column $on must exist in both ${d.base} and $dim")
        require(factSt.fields.find(_.name == on).get.dataType ==
          dimSt.fields.find(_.name == on).get.dataType,
          s"join column $on types differ between ${d.base} and $dim")
        val overlap = (factSt.fieldNames.toSet &
          dimSt.fieldNames.toSet) - on
        require(overlap.isEmpty,
          s"${d.base} and $dim share non-join columns $overlap — a " +
            "joined MV needs unambiguous names")
        StructType(factSt.fields ++ dimSt.fields.filter(_.name != on))
    }
    val keyFields = d.keyCols.map(k =>
      baseSt.fields.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(
          s"key column $k not in the ${d.name} row shape")))
    (d.sumCols ++ d.minCols ++ d.maxCols).foreach { c =>
      require(baseSt.fieldNames.contains(c),
        s"agg column $c not in the ${d.name} row shape")
    }
    def baseType(c: String) = baseSt.fields.find(_.name == c).get.dataType
    val surrogateField =
      if (d.extraKeyCols.isEmpty) Nil
      else Seq(StructField("mv_key", StringType, nullable = false))
    val st = StructType(
      keyFields ++ surrogateField ++
        (StructField("n_rows", LongType) +:
        (d.sumCols.map(c => StructField(s"sum_$c", DoubleType,
           nullable = true)) ++
         d.minCols.map(c => StructField(s"min_$c", baseType(c),
           nullable = true)) ++
         d.maxCols.map(c => StructField(s"max_$c", baseType(c),
           nullable = true)))))
    LakeTable.createTable(log, d.name, st)
  }

  private val mapper = {
    import com.fasterxml.jackson.databind.json.JsonMapper
    import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}
    JsonMapper.builder().addModule(DefaultScalaModule).build() ::
      ClassTagExtensions
  }

  /** Persist the view definition beside its backing table so the
    * SQL/REST faces can refresh by NAME (`_mvdef.json` in the MV's
    * table dir — versionless metadata like `_wap`, not snapshot
    * state). An atomic replace: a crash mid-write never tears it. */
  def saveDef(log: LakeLog, d: MvDef): Unit = {
    java.nio.file.Files.createDirectories(log.tableDir(d.name))
    LakeLog.replace(log.tableDir(d.name).resolve("_mvdef.json"),
      mapper.writeValueAsString(d))
  }

  def loadDef(log: LakeLog, name: String): Option[MvDef] =
    LakeLog.readIfExists(log.tableDir(name).resolve("_mvdef.json"))
      .map(mapper.readValue[MvDef](_))

  /** The highest base version already folded into the MV, parsed from the
    * MV log's refresh txn ids (0 = never refreshed). */
  def lastRefreshed(log: LakeLog, d: MvDef): Long =
    log.versions(d.name)
      .map(v => log.readEntry(d.name, v).txn_id)
      .collect { case TxnPattern(v) => v.toLong }
      .foldLeft(0L)(math.max)

  /** The dimension version the NEWEST refresh folded (join MVs; -1 =
    * never refreshed). The incremental gate compares it to the dim's
    * latest: any dim commit can rewrite history for already-folded fact
    * rows, so a moved dim forces the full-recompute path. */
  def lastDimVersion(log: LakeLog, d: MvDef): Long = {
    // the NEWEST refresh commit (MV versions are monotone, and a
    // dim-only full refresh re-lands the SAME fact high-water with a
    // newer dim token — a max-by-fact-version pick would tie onto the
    // stale one and loop "full" forever)
    val ids = log.versions(d.name).sorted
      .map(v => log.readEntry(d.name, v).txn_id)
      .collect { case id @ TxnPattern(_) => id }
    ids.lastOption match {
      case Some(DimPattern(dv)) => dv.toLong
      case _ => -1L
    }
  }

  /** The MV-log version whose refresh commit folded EXACTLY base version
    * `baseVersion` — the snapshot a freshness-pinned reader (the rewrite
    * rule) must read: reading the MV at "latest" instead would tear if a
    * base commit plus refresh lands between the freshness check and the
    * read, silently answering from a NEWER base version than the plan
    * scanned. */
  def refreshVersionAt(log: LakeLog, d: MvDef, baseVersion: Long,
                       dimVersion: Long = -1L): Option[Long] =
    log.versions(d.name).find(v =>
      log.readEntry(d.name, v).txn_id == txnFor(d, baseVersion, dimVersion))

  /** Aggregate a slice of the base into MV shape. */
  private def aggOf(df: DataFrame, d: MvDef): DataFrame = {
    val aggs =
      d.sumCols.map(c => sum(col(c).cast("double")).as(s"sum_$c")) ++
      d.minCols.map(c => min(col(c)).as(s"min_$c")) ++
      d.maxCols.map(c => max(col(c)).as(s"max_$c"))
    val grouped = df.groupBy(d.keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
    withSurrogate(grouped, d)
  }

  /** Composite-key MVs carry the surrogate right after the key columns
    * (matching [[create]]'s schema order). */
  private def withSurrogate(grouped: DataFrame, d: MvDef): DataFrame =
    if (d.extraKeyCols.isEmpty) grouped
    else grouped.select(
      (d.keyCols.map(col) :+ surrogate(d).as("mv_key")) ++
        grouped.columns.filterNot(d.keyCols.contains).map(col): _*)

  /** True iff the entry only appends logical rows. Schema-evolution
    * entries (no adds, no removes) also qualify: their delta is empty. */
  private def isAppendOnly(e: LogEntry): Boolean =
    e.removes.isEmpty && e.adds.forall(!_.rewrite)

  /** Layout-only = no logical content change (shared classifier — see
    * [[LakeTable.isLayoutOnlyEntry]]: rewrite adds, dv state unchanged,
    * live row counts balance). */
  private def isLayoutOnly(log: LakeLog, d: MvDef, e: LogEntry): Boolean =
    LakeTable.isLayoutOnlyEntry(log, d.base, e)

  // Refreshes of one MV are serialized in-process: two concurrent
  // refreshers could otherwise observe DIFFERENT base versions and the
  // later-observing one commit first — the earlier one's merge (computed
  // against the pre-commit MV state) would then overwrite touched keys
  // with totals missing the newer delta, while lastRefreshed (the max)
  // claims it was folded. The lake log is explicitly a driver-local
  // control plane (per-table in-process commit locks), so a per-MV lock
  // is the same single-process contract; serialized, the loser simply
  // re-derives `last` and becomes a noop or folds the remaining delta.
  private val refreshLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Bring the MV up to the base's latest version. Returns what happened:
    * `noop` (already current), `incremental` (delta aggregated + merged via
    * one idempotent upsert — or, for a logically-empty delta such as a
    * compaction-only window, a metadata-only commit that just advances the
    * high-water mark), or `full` (recompute via [[LakeTable.overwrite]] —
    * ONE atomic commit, so readers never observe an empty MV and a crash
    * or duplicate replay can never leave one behind).
    */
  def refresh(spark: SparkSession, log: LakeLog, d: MvDef): RefreshResult =
    refreshLocks.computeIfAbsent(s"${log.root}#${d.name}", _ => new Object)
      .synchronized {
    val cur = log.latestVersion(d.base)
    val last = lastRefreshed(log, d)
    // join MVs: every delta row (and full recompute) enriches through
    // the dimension BEFORE aggregating; a dim commit since the last
    // refresh can rewrite history for already-folded fact rows, so it
    // disqualifies the incremental path (dimOk) and un-noops a
    // fact-current MV
    val dimCur = d.joinTable.map(log.latestVersion).getOrElse(-1L)
    val enrich: DataFrame => DataFrame = d.joinTable match {
      case Some(dim) => df => df.join(
        LakeTable.read(spark, log, dim), Seq(d.joinOn.get), "inner")
      case None => df => df
    }
    val dimOk = d.joinTable.isEmpty || last == 0L ||
      lastDimVersion(log, d) == dimCur
    if (cur <= last && dimOk) return RefreshResult("noop", last, cur)
    if (!dimOk)
      return fullRefresh(spark, log, d, last, cur, dimCur, enrich)

    val entries = ((last + 1) to cur).map(log.readEntry(d.base, _))
    val incrementalOk =
      entries.forall(e => isAppendOnly(e) || isLayoutOnly(log, d, e))
    // deletion-vector windows fold incrementally too — count/sum are
    // self-maintainable under deletes because the DV enumerates EXACTLY
    // the deleted rows (the pre-images a CoW delete lacks): subtract
    // their aggregate as a negative delta. min/max are not (a delete can
    // raise a min), so their presence keeps the full-recompute fallback.
    val dvEntries = entries.filter(LakeTable.isDvDeltaEntry(log, d.base, _))
    val dvOk = !incrementalOk && d.minCols.isEmpty && d.maxCols.isEmpty &&
      entries.forall(e => isAppendOnly(e) || isLayoutOnly(log, d, e) ||
        LakeTable.isDvDeltaEntry(log, d.base, e))

    if (incrementalOk || dvOk) {
      val inserts = aggOf(
        enrich(LakeTable.changesSince(spark, log, d.base, last, cur)), d)
      val delta = (if (dvEntries.isEmpty) inserts else {
        val deleted = aggOf(
          enrich(LakeTable.dvDeletedRows(spark, log, d.base, last, cur)), d)
        val negated = deleted.withColumn("n_rows", -col("n_rows"))
        inserts.unionByName(d.sumCols.foldLeft(negated)((df, c) =>
          df.withColumn(s"sum_$c", -col(s"sum_$c"))))
      }).persist()
      val mode = if (dvEntries.isEmpty) "incremental" else "incremental_dv"
      try {
        // merged totals for touched keys only: current MV rows for those
        // keys + the delta, re-aggregated. The MV-side read is
        // stats-pruned by upsert's own key-range pruning on write; the
        // semi-join keeps the merge O(|touched|), not O(|MV|).
        val touched = LakeTable.read(spark, log, d.name)
          .join(delta.select(d.upsertKey), Seq(d.upsertKey), "left_semi")
        val merged = aggRemerge(touched.unionByName(delta), d).persist()
        try {
          // ONE probe over the cached MERGED frame answers every routing
          // question (empty window? NULL group key? dead group under a DV
          // window?) — it materializes work the upsert below consumes from
          // cache anyway, where the previous shape paid a separate
          // delta-probe job plus a dv isEmpty job, each with its own
          // planning gap. Key facts: delta is already one row per key, a
          // delta key always survives the remerge, and a NULL delta group
          // key yields exactly a NULL merged group key.
          val probe = merged.agg(count(lit(1)),
            count(when(col(d.upsertKey).isNull, lit(1))),
            count(when(col("n_rows") === 0, lit(1)))).head()
          val (mRows, nullKeyRows, deadKeys) =
            (probe.getLong(0), probe.getLong(1), probe.getLong(2))
          if (mRows == 0L) {
            // logically-empty window (layout-only / schema-only entries):
            // advance the high-water mark with a metadata-only commit —
            // routing this through upsert would rewrite the ENTIRE MV (an
            // empty update set defeats its key-range pruning)
            log.commitWithRetry(d.name, txnFor(d, cur, dimCur))(
              _ => Some((Nil, Nil)))
            RefreshResult(mode, last, cur)
          } else if (nullKeyRows > 0L) {
            // a NULL group key cannot ride the upsert merge: the upsert's
            // anti-join never matches NULL = NULL, so the old NULL-group
            // row would survive NEXT TO the merged one. Full path instead.
            fullRefresh(spark, log, d, last, cur, dimCur, enrich)
          } else if (dvEntries.nonEmpty && deadKeys > 0L) {
            // a key whose every row died merges to n_rows = 0 — SQL GROUP
            // BY would not emit it, and the upsert merge cannot DROP a
            // row. Rare (a whole group deleted); recompute restores truth.
            fullRefresh(spark, log, d, last, cur, dimCur, enrich)
          } else {
            LakeTable.upsert(spark, log, d.name, merged, d.upsertKey,
              txnId = txnFor(d, cur, dimCur))
            RefreshResult(mode, last, cur)
          }
        } finally merged.unpersist()
      } finally delta.unpersist()
    } else fullRefresh(spark, log, d, last, cur, dimCur, enrich)
  }

  private def fullRefresh(spark: SparkSession, log: LakeLog, d: MvDef,
                          last: Long, cur: Long, dimCur: Long,
                          enrich: DataFrame => DataFrame): RefreshResult = {
    val full = aggOf(enrich(LakeTable.read(spark, log, d.base)), d)
    LakeTable.overwrite(spark, log, d.name, full,
      txnId = txnFor(d, cur, dimCur))
    RefreshResult("full", last, cur)
  }

  /** Re-aggregate rows already in MV shape (sums of sums, sum of counts,
    * min of mins / max of maxes — the monotone merge that insert-only
    * windows license). */
  private def aggRemerge(mvShaped: DataFrame, d: MvDef): DataFrame = {
    val aggs =
      d.sumCols.map(c => sum(s"sum_$c").as(s"sum_$c")) ++
      d.minCols.map(c => min(s"min_$c").as(s"min_$c")) ++
      d.maxCols.map(c => max(s"max_$c").as(s"max_$c"))
    withSurrogate(mvShaped.groupBy(d.keyCols.map(col): _*)
      .agg(sum("n_rows").cast("long").as("n_rows"), aggs: _*), d)
  }

  /** Keep the MV continuously fresh: tail the base table's CDC stream
    * (offsets = log versions) and run one [[refresh]] per micro-batch.
    * The batch contents are ignored — refresh re-derives its own delta
    * from the log, so a restart, a duplicate batch or a batch that
    * coalesced several versions all land on the same idempotent
    * high-water txn. This is the streaming face of the MV: the base's
    * writers don't know the view exists, and the view never re-reads
    * more than the delta.
    */
  def continuousRefresh(spark: SparkSession, log: LakeLog, d: MvDef,
                        checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.Streams.lakeStream(spark, log, d.base).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, _: Long) =>
        refresh(spark, log, d)
        ()
      }
      .start()

  /** Read the MV, with derived exact means (`avg_<c> = sum_<c>/n_rows`)
    * appended — the read-side face of count/sum self-maintainability. */
  def read(spark: SparkSession, log: LakeLog, d: MvDef): DataFrame = {
    val mv = LakeTable.read(spark, log, d.name)
    d.sumCols.foldLeft(mv)((df, c) =>
      df.withColumn(s"avg_$c", col(s"sum_$c") / col("n_rows")))
  }
}
