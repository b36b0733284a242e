package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._

/** The one place a predicate meets file stats. A custom `FileIndex`
  * whose `listFiles` receives a query's pushed `dataFilters` as resolved
  * Catalyst expressions (SURVEY.md §4), so ANY Spark/SQL predicate over a
  * lake table prunes files by the transaction log's min/max stats. DML,
  * `OPTIMIZE … WHERE` and replaceWhere's append-conflict check push their
  * predicate through the same scan shape ([[LakeTable.candidateFiles]]) and
  * decide with the same [[LakeFileIndex.prune]]. Conjunctions prune
  * per-conjunct; disjunctions keep a file if either arm might match;
  * unknown expression shapes are conservatively kept. The residual filter
  * still runs, so pruning is purely an I/O win.
  */
final class LakeFileIndex(spark: SparkSession, snap: Snapshot,
                          dataSchema: StructType,
                          partSchema: StructType = StructType(Nil))
    extends FileIndex {

  private def status(f: FileAdd): FileStatus = new FileStatus(f.size,
    false, 1, 128L * 1024 * 1024, 0L, new HPath("file://" + f.path))

  /** Identity of the scanned snapshot — lets plan-level rewrites
    * ([[MvRewriteRule]]) recognize WHICH table at WHICH version a
    * LogicalRelation reads. */
  def tableName: String = snap.table
  def tableVersion: Long = snap.version

  override def rootPaths: Seq[HPath] = snap.files.map(status(_).getPath)

  /** Partitioned tables: one [[PartitionDirectory]] per distinct partition
    * value vector (typed from the log's string map), so Spark both prunes
    * whole partitions via `partitionFilters` — evaluated here against the
    * partition row, never touching data — and reconstructs the partition
    * columns per row for free. Data filters then prune the surviving files
    * by min/max stats, as in the unpartitioned case.
    */
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val dataKept = LakeFileIndex.prune(snap.files, dataFilters)
    if (partSchema.isEmpty)
      return Seq(PartitionDirectory(InternalRow.empty, dataKept.map(status).toArray))
    dataKept.groupBy { f =>
      partSchema.map(p => f.partition(p.name)).toIndexedSeq
    }.toSeq.sortBy(_._1.mkString("/")).flatMap { case (vals, group) =>
      val row = InternalRow.fromSeq(vals.zip(partSchema).map {
        case (v, p) => internalValue(v, p.dataType) })
      if (partitionFilters.forall(pf => evalPartitionFilter(pf, row)))
        Some(PartitionDirectory(row, group.map(status).toArray))
      else None
    }
  }

  private def internalValue(v: String, dt: DataType): Any =
    PartitionValues.internalValue(v, dt)

  /** Evaluate a pushed partition filter against one partition row;
    * unexpectedly-shaped expressions conservatively keep the partition. */
  private def evalPartitionFilter(e: Expression, row: InternalRow): Boolean =
    try {
      val bound = e.transform {
        case a: AttributeReference =>
          val i = partSchema.fieldIndex(a.name)
          BoundReference(i, partSchema(i).dataType, nullable = true)
      }
      Predicate.create(bound).eval(row)
    } catch { case _: RuntimeException => true }

  /** Snapshot-wide file count — the "total" side of the scanned-vs-pruned
    * metrics split (graft.Metrics): pruned = total − scan's numFiles. */
  def totalFileCount: Int = snap.files.size

  override def inputFiles: Array[String] = snap.files.map(_.path).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = snap.files.map(_.size).sum
  override def partitionSchema: StructType = partSchema
}

object LakeFileIndex {

  /** The files of `files` whose stats do not PROVE that no row satisfies
    * every conjunct — the whole stat-pruning decision, for reads and
    * writes alike. Never throws: a conjunct it cannot compare keeps the
    * file. */
  def prune(files: Seq[FileAdd], conjuncts: Seq[Expression]): Seq[FileAdd] =
    files.filter(f => conjuncts.forall(mightMatch(f, _)))

  /** Could any row of `f` satisfy `e`? Conservative three-valued logic. */
  private def mightMatch(f: FileAdd, e: Expression): Boolean = e match {
    case And(l, r) => mightMatch(f, l) && mightMatch(f, r)
    case Or(l, r) => mightMatch(f, l) || mightMatch(f, r)
    case Not(EqualTo(a: AttributeReference, Literal(v, _))) =>
      range(f, a.name, a.dataType) match {
        case Some((lo, hi)) =>
          // prunable only when the whole file is exactly the literal
          !(lo == hi && cmpLit(lo, v, a.dataType).contains(0))
        case None => true
      }
    case EqualTo(a: AttributeReference, Literal(v, _)) => cmp(f, a, v) {
      (cl, ch) => cl <= 0 && ch >= 0 } && bloomKeeps(f, a, v)
    case EqualTo(Literal(v, _), a: AttributeReference) => cmp(f, a, v) {
      (cl, ch) => cl <= 0 && ch >= 0 } && bloomKeeps(f, a, v)
    case GreaterThan(a: AttributeReference, Literal(v, _)) => cmp(f, a, v) {
      (_, ch) => ch > 0 }
    case GreaterThan(Literal(v, _), a: AttributeReference) => cmp(f, a, v) {
      (cl, _) => cl < 0 }
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
      cmp(f, a, v) { (_, ch) => ch >= 0 }
    case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) =>
      cmp(f, a, v) { (cl, _) => cl <= 0 }
    case LessThan(a: AttributeReference, Literal(v, _)) => cmp(f, a, v) {
      (cl, _) => cl < 0 }
    case LessThan(Literal(v, _), a: AttributeReference) => cmp(f, a, v) {
      (_, ch) => ch > 0 }
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
      cmp(f, a, v) { (cl, _) => cl <= 0 }
    case LessThanOrEqual(Literal(v, _), a: AttributeReference) =>
      cmp(f, a, v) { (_, ch) => ch >= 0 }
    case In(a: AttributeReference, list) if list.forall(_.isInstanceOf[Literal]) =>
      list.exists { case Literal(v, _) =>
        cmp(f, a, v) { (cl, ch) => cl <= 0 && ch >= 0 } &&
          bloomKeeps(f, a, v) }
    case _ => true // IsNotNull, functions, UDF-ish — keep
  }

  /** Bloom probe for equality predicates: a file whose bloom PROVES the
    * literal absent is dropped even when its min/max range covers it — the
    * point-lookup win on unsorted high-cardinality columns. Only types with
    * a canonical string rendering carry blooms ([[BloomSkip]]); anything
    * else (or a bloom-less file, or a null literal) is kept.
    */
  private def bloomKeeps(f: FileAdd, a: AttributeReference, v: Any): Boolean =
    a.dataType match {
      case StringType | IntegerType | LongType if v != null =>
        BloomSkip.mightContain(f, a.name, String.valueOf(v)).getOrElse(true)
      case _ => true
    }

  /** Apply `check(cmp(min,lit), cmp(max,lit))`; keep on missing stats.
    * Timestamp stats are zone-less wall clocks, so they compare as bounds
    * widened by the full zone-offset range ([[StatCompare.zonedTimestamp]]). */
  private def cmp(f: FileAdd, a: AttributeReference, v: Any)(
      check: (Int, Int) => Boolean): Boolean =
    range(f, a.name, a.dataType) match {
      case Some((lo, hi)) =>
        val (cl, ch) = (a.dataType, v) match {
          case (TimestampType, micros: Long) =>
            (StatCompare.zonedTimestamp(lo, micros, upper = false),
             StatCompare.zonedTimestamp(hi, micros, upper = true))
          case _ => (cmpLit(lo, v, a.dataType), cmpLit(hi, v, a.dataType))
        }
        (cl, ch) match {
          case (Some(l), Some(h)) => check(l, h)
          case _ => true
        }
      case None => true
    }

  private def range(f: FileAdd, name: String, dt: DataType)
      : Option[(String, String)] =
    for {
      st <- f.stats
      lo <- st.min_values.get(name)
      hi <- st.max_values.get(name)
    } yield (lo, hi)

  /** compare(statString, catalystLiteral) in the column's domain, through
    * the exactness-sensitive kernels of [[StatCompare]]. */
  private def cmpLit(stat: String, v: Any, dt: DataType): Option[Int] =
    try dt match {
      // float stats are the exact decimal of the promoted double
      // ([[FooterStats]]); Float.toString ("0.3") would sit below it
      case FloatType => StatCompare.numeric(stat,
        new java.math.BigDecimal(v.asInstanceOf[java.lang.Float].doubleValue)
          .toString)
      case IntegerType | LongType | DoubleType | ShortType | ByteType =>
        StatCompare.numeric(stat, v.toString)
      case StringType =>
        Some(StatCompare.codePoints(stat, v.toString)) // UTF8String value
      case BooleanType =>
        Some(java.lang.Boolean.compare(stat.toBoolean, v.toString.toBoolean))
      case DateType =>
        // catalyst DateType literal = days since epoch
        val statDays = java.time.LocalDate.parse(stat).toEpochDay
        Some(java.lang.Long.compare(statDays, v.toString.toLong))
      // timestamps: the stat's zone is unknown, so they compare only as
      // widened bounds in [[cmp]]; elsewhere (the `!=` rule) keep the file
      case _ => None
    } catch { case _: RuntimeException => None }
}

/** Exact stat-vs-literal comparison kernels of [[LakeFileIndex.prune]].
  * All of these exist because the "obvious" comparison is UNSOUND for
  * pruning:
  *  - doubles lose integer precision above 2^53 (an int64 stat and a
  *    nearby literal collapse to the same double and `>` falsely prunes);
  *  - java String.compareTo orders by UTF-16 code unit, but Spark string
  *    comparison is binary UTF-8 = code-POINT order — they disagree on
  *    supplementary characters vs U+E000..U+FFFF;
  *  - timestamp stats are wall-clock times in the writer's session zone,
  *    which the log does not record, while a Catalyst literal is an
  *    instant: [[zonedTimestamp]] bounds the stat's instant by the full
  *    zone-offset range instead of assuming a zone.
  */
private[lake] object StatCompare {

  /** Arbitrary-precision numeric compare (handles int64 beyond 2^53 and
    * decimal/scientific literals exactly); None if either side is not a
    * plain number (NaN/Infinity included — conservative keep). */
  def numeric(stat: String, lit: String): Option[Int] =
    try Some(new java.math.BigDecimal(stat.trim)
      .compareTo(new java.math.BigDecimal(lit.trim)))
    catch { case _: NumberFormatException => None }

  /** Code-point order — Spark/UTF-8 binary string semantics. */
  def codePoints(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** ±18 h, the full [[java.time.ZoneOffset]] range, in micros. */
  private val MaxOffsetMicros =
    java.time.ZoneOffset.MAX.getTotalSeconds * 1000000L

  /** compare(stat bound, instant literal in micros since the epoch) for a
    * `yyyy-MM-dd HH:mm:ss[.f…]` stat rendered in an unknown zone. The
    * wall clock read as UTC is moved by the widest offset any zone can
    * have: a min (`upper = false`) down by 18 h, a max up by 18 h. Only
    * that bound holds for every writer/reader zone pair, DST folds
    * included; day-aligned windows still prune. None on any other shape. */
  def zonedTimestamp(stat: String, micros: Long,
                     upper: Boolean): Option[Int] =
    try {
      val wall = java.time.LocalDateTime.parse(stat.trim.replace(' ', 'T'))
      val sec = wall.toEpochSecond(java.time.ZoneOffset.UTC)
      val base = Math.addExact(Math.multiplyExact(sec, 1000000L),
        wall.getNano / 1000L)
      val bound =
        if (upper) Math.addExact(base, MaxOffsetMicros)
        else Math.subtractExact(base, MaxOffsetMicros)
      Some(java.lang.Long.compare(bound, micros))
    } catch {
      case _: java.time.DateTimeException | _: ArithmeticException => None
    }
}
