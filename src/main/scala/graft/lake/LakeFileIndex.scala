package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._

/** Catalyst-integrated stat-based file skipping — the "deluxe" version of
  * [[FilePruning]] (SURVEY.md §4): a custom `FileIndex` whose `listFiles`
  * receives the query's pushed `dataFilters` as resolved Catalyst
  * expressions, so ANY Spark/SQL predicate over a lake table prunes files by
  * the transaction log's min/max stats — not just the reference's 3-token
  * grammar. Conjunctions prune per-conjunct; disjunctions keep a file if
  * either arm might match; unknown expression shapes are conservatively
  * kept. The residual filter still runs, so pruning is purely an I/O win.
  */
final class LakeFileIndex(spark: SparkSession, snap: Snapshot,
                          dataSchema: StructType,
                          partSchema: StructType = StructType(Nil))
    extends FileIndex {

  private val statuses: Seq[(FileAdd, FileStatus)] = snap.files.map { f =>
    val p = new HPath("file://" + f.path)
    (f, new FileStatus(f.size, false, 1, 128L * 1024 * 1024, 0L, p))
  }

  /** Identity of the scanned snapshot — lets plan-level rewrites
    * ([[MvRewriteRule]]) recognize WHICH table at WHICH version a
    * LogicalRelation reads. */
  def tableName: String = snap.table
  def tableVersion: Long = snap.version

  override def rootPaths: Seq[HPath] = statuses.map(_._2.getPath)

  /** Partitioned tables: one [[PartitionDirectory]] per distinct partition
    * value vector (typed from the log's string map), so Spark both prunes
    * whole partitions via `partitionFilters` — evaluated here against the
    * partition row, never touching data — and reconstructs the partition
    * columns per row for free. Data filters then prune the surviving files
    * by min/max stats, as in the unpartitioned case.
    */
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val dataKept = statuses.filter { case (f, _) =>
      dataFilters.forall(expr => mightMatch(f, expr))
    }
    if (partSchema.isEmpty)
      return Seq(PartitionDirectory(InternalRow.empty, dataKept.map(_._2).toArray))
    dataKept.groupBy { case (f, _) =>
      partSchema.map(p => f.partition(p.name)).toIndexedSeq
    }.toSeq.sortBy(_._1.mkString("/")).flatMap { case (vals, group) =>
      val row = InternalRow.fromSeq(vals.zip(partSchema).map {
        case (v, p) => internalValue(v, p.dataType) })
      if (partitionFilters.forall(pf => evalPartitionFilter(pf, row)))
        Some(PartitionDirectory(row, group.map(_._2).toArray))
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

  /** compare(statString, catalystLiteral) in the column's domain —
    * delegates the exactness-sensitive kernels to [[StatCompare]] so this
    * path and [[FilePruning]] can never prune inconsistently. */
  private def cmpLit(stat: String, v: Any, dt: DataType): Option[Int] =
    try dt match {
      case IntegerType | LongType | FloatType | DoubleType | ShortType |
           ByteType =>
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
