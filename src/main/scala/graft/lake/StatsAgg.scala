package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Metadata-only aggregates: `COUNT(*)`, per-column `COUNT`, `MIN`, `MAX`
  * answered ENTIRELY from the transaction log's per-file footer statistics —
  * zero data files opened. At 100 TB this turns a full-table aggregate scan
  * into an O(#files) log read on the driver: the same trick Delta/Iceberg
  * use for `SELECT count(*)` and the reason the log carries real stats
  * instead of the reference's fabricated ones (`table_service.go:416-425`).
  *
  * Soundness rules (when a stats answer is NOT available, [[aggregate]]
  * falls back to a real scan — pruning-style "metadata is an optimization,
  * never a semantics change"):
  *
  *  - `COUNT(*)` is always answerable: every committed [[FileAdd]] carries
  *    an exact footer row count, and copy-on-write DELETE/UPSERT/compaction
  *    keep the snapshot's file list an exact description of current rows.
  *  - `COUNT(c)` needs a `null_counts` entry for `c` in EVERY file (older
  *    log entries predate null-count stats; some writers omit `num_nulls`).
  *  - `MIN(c)`/`MAX(c)` need the column's type to round-trip EXACTLY through
  *    the stringified stat encoding: int32/int64/float32/float64/boolean/
  *    date qualify. Strings do NOT — parquet may truncate binary stats
  *    (min rounded down, max up), so the stat is a bound, not a witness
  *    value; timestamps do NOT — NANOS stats round to micros. Those stats
  *    stay sound for pruning but would be WRONG as answers.
  *  - A file with no min/max entry for `c` is acceptable only when its null
  *    count proves the column is all-null there (contributes nothing to
  *    MIN/MAX under SQL semantics); otherwise the stat may simply be
  *    missing and the answer falls back.
  */
object StatsAgg {

  /** Types whose stat strings are exact value witnesses (see above). */
  private def exactType(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | FloatType | DoubleType | BooleanType |
         DateType => true
    case _ => false
  }

  private def parse(s: String, dt: DataType): Any = dt match {
    case IntegerType => s.toInt
    case LongType => s.toLong
    // float stats are quoted as the exact decimal of the PROMOTED double
    // (FooterStats.render); parseDouble returns that exact double and the
    // back-cast to float is lossless because the value was a float
    case FloatType => java.lang.Double.parseDouble(s).toFloat
    case DoubleType => java.lang.Double.parseDouble(s)
    case BooleanType => s.toBoolean
    case DateType => java.sql.Date.valueOf(java.time.LocalDate.parse(s))
    case other => throw new IllegalArgumentException(
      s"no exact stat codec for $other")
  }

  private def lt(a: Any, b: Any, dt: DataType): Boolean = dt match {
    case IntegerType => a.asInstanceOf[Int] < b.asInstanceOf[Int]
    case LongType => a.asInstanceOf[Long] < b.asInstanceOf[Long]
    case FloatType => a.asInstanceOf[Float] < b.asInstanceOf[Float]
    case DoubleType => a.asInstanceOf[Double] < b.asInstanceOf[Double]
    case BooleanType => !a.asInstanceOf[Boolean] && b.asInstanceOf[Boolean]
    case DateType =>
      a.asInstanceOf[java.sql.Date].before(b.asInstanceOf[java.sql.Date])
    case other => throw new IllegalArgumentException(s"no order for $other")
  }

  /** `n_rows` + per-column (count, min, max) for one file set, or None when
    * any soundness rule fails for any requested column. */
  private def statsForFiles(files: Seq[FileAdd], sch: TableSchema,
                            st: StructType,
                            cols: Seq[String]): Option[Seq[Any]] = {
    // COUNT(*) stays exact under merge-on-read deletes (live = physical −
    // dv positions, both exact log metadata); per-column stats do NOT — a
    // deleted row may have held the min/max or a null, so any DV in the
    // file set sends column answers to the scan fallback
    val nRows = files.map(_.liveRows).sum
    val anyDv = files.exists(_.dvRows > 0)
    val perCol: Seq[Option[(Long, Any, Any)]] = cols.map { c =>
      val dt = st(c).dataType
      if (!exactType(dt) || anyDv) None
      else {
        // file stats are keyed by the column's PHYSICAL name
        val pc = sch.physFor(c)
        val stats = files.map(f => f.stats.map(s =>
          (s.min_values.get(pc), s.max_values.get(pc),
            s.nullCounts.get(pc), f.rows)))
        if (stats.exists(_.isEmpty)) None
        else {
          val known = stats.flatten
          // COUNT(c) and the all-null proof both need null counts everywhere
          if (known.exists(_._3.isEmpty)) None
          else {
            val nulls = known.map(_._3.get).sum
            // every file must carry BOTH min and max witnesses or be
            // provably all-null for c — a file with only one of the two
            // would silently drop out of the opposite extreme's answer
            if (known.exists(k =>
              (k._1.isEmpty || k._2.isEmpty) && k._3.get != k._4)) None
            else {
              val mins = known.flatMap(_._1).map(parse(_, dt))
              val maxs = known.flatMap(_._2).map(parse(_, dt))
              val mn = if (mins.isEmpty) null
                       else mins.reduce((a, b) => if (lt(a, b, dt)) a else b)
              val mx = if (maxs.isEmpty) null
                       else maxs.reduce((a, b) => if (lt(a, b, dt)) b else a)
              Some((nRows - nulls, mn, mx))
            }
          }
        }
      }
    }
    if (perCol.exists(_.isEmpty)) None
    else Some(nRows +: perCol.flatMap {
      case Some((cnt, mn, mx)) => Seq(cnt, mn, mx)
      case None => Nil
    })
  }

  private def statFields(st: StructType, cols: Seq[String]): Seq[StructField] =
    StructField("n_rows", LongType, nullable = false) +:
      cols.flatMap { c =>
        val dt = st(c).dataType
        Seq(StructField(s"cnt_$c", LongType, nullable = false),
          StructField(s"min_$c", dt), StructField(s"max_$c", dt))
      }

  /** One row of metadata answers, or None when any rule above fails.
    * Output schema: `n_rows` plus `cnt_<c>`, `min_<c>`, `max_<c>` per
    * requested column (min/max typed as the column; null on empty data). */
  def fromStats(spark: SparkSession, snap: Snapshot, cols: Seq[String])
      : Option[DataFrame] = {
    val sch = snap.schema.getOrElse(
      throw new LakeValidationException(s"table ${snap.table} has no schema"))
    val st = LakeTable.toStructType(sch)
    statsForFiles(snap.files, sch, st, cols).map(values =>
      spark.createDataFrame(java.util.List.of(Row.fromSeq(values)),
        StructType(statFields(st, cols))))
  }

  /** GROUP BY the table's partition columns, answered from metadata: every
    * file carries its partition values in the log, so per-partition
    * COUNT/MIN/MAX is a grouping of [[FileAdd]]s — the "rows per partition"
    * ops query at O(#files), no data touched. Output: the partition
    * columns (typed as declared) then the same stat columns as
    * [[fromStats]], one row per live partition. None under the same
    * soundness rules (applied per group).
    */
  def fromStatsByPartition(spark: SparkSession, snap: Snapshot,
                           cols: Seq[String]): Option[DataFrame] = {
    val sch = snap.schema.getOrElse(
      throw new LakeValidationException(s"table ${snap.table} has no schema"))
    val st = LakeTable.toStructType(sch)
    val partCols = sch.partCols
    // a file written under another spec (partition evolution) groups by
    // other keys: its rows' values for the current spec's columns are in
    // its bytes, not the log — leave that table to the scan
    if (partCols.isEmpty ||
        snap.files.exists(_.partition.keySet != partCols.toSet)) return None
    val groups = snap.files.groupBy(_.partition).toSeq
      .map { case (pmap, files) => (partCols.map(pmap), files) }
      .sortBy(_._1.mkString("\u0000"))
    val rows = groups.map { case (pv, files) =>
      statsForFiles(files, sch, st, cols).map(values =>
        Row.fromSeq(pv ++ values))
    }
    if (rows.exists(_.isEmpty)) None
    else {
      // partition values are log-side strings; cast back to declared types
      val rawFields = partCols.map(c => StructField(s"__p_$c", StringType,
        nullable = false)) ++ statFields(st, cols)
      val df = spark.createDataFrame(
        java.util.Arrays.asList(rows.map(_.get): _*), StructType(rawFields))
      Some(df.select(partCols.map(c =>
        col(s"__p_$c").cast(st(c).dataType).as(c)) ++
        statFields(st, cols).map(f => col(f.name)): _*))
    }
  }

  /** Stats-only aggregate with a real-scan fallback: identical answers
    * either way, the metadata path just skips the data I/O. */
  def aggregate(spark: SparkSession, log: LakeLog, table: String,
                cols: Seq[String], version: Long = 0L): DataFrame = {
    val snap = log.snapshot(table, version)
    fromStats(spark, snap, cols).getOrElse {
      val df = LakeTable.read(spark, log, table, version)
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
        count(col(c)).as(s"cnt_$c"),
        min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
      df.agg(aggs.head, aggs.tail: _*)
    }
  }
}
