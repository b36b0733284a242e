package graft.lake

import org.apache.spark.sql.types._

/** Min/max-stat file skipping for the reference's 3-token predicate grammar
  * (`<col> <op> <literal>`, `worker/src/task_executor.rs:474-516`).
  *
  * The reference collects stats in its log schema but never consults them
  * (`pkg/coordinator/query_planner.go:238-256`); this implements the
  * optimization it scaffolds. Decision rule: keep a file unless its stats
  * PROVE no row can match. Files without stats are always kept; unparseable
  * predicates prune nothing. At 100 TB this is the difference between
  * scanning a table and scanning the handful of files a point query touches —
  * same idea as parquet row-group pruning, one level up.
  */
object FilePruning {

  private val Ops = Set("=", "==", ">", "<", ">=", "<=", "!=", "<>")

  def prune(files: Seq[FileAdd], predicate: String, schema: StructType)
      : Seq[FileAdd] = {
    val parts = predicate.trim.split("\\s+", 3)
    if (parts.length != 3 || !Ops.contains(parts(1))) return files
    val colName = parts(0)
    val field = schema.fields.find(_.name == colName).getOrElse(return files)
    val lit = stripQuotes(parts(2))
    files.filter(f => mightMatch(f, colName, parts(1), lit, field.dataType))
  }

  // Mirrors QueryEngine.inferLiteral's quoting (incl. the doubled-
  // delimiter escape) — pruning and row-matching must agree on the
  // literal or a mis-parsed prune could drop files the matcher wants.
  private def stripQuotes(raw: String): String = {
    val t = raw.trim
    if (t.length >= 2 &&
        ((t.head == '\'' && t.last == '\'') || (t.head == '"' && t.last == '"')))
      t.substring(1, t.length - 1)
        .replace(s"${t.head}${t.head}", s"${t.head}")
    else t
  }

  /** Can any row in `f` satisfy `col op lit`? Conservative: true on any
    * missing stat or parse failure.
    */
  private def mightMatch(f: FileAdd, colName: String, op: String, lit: String,
                         dt: DataType): Boolean = {
    val stats = f.stats.getOrElse(return true)
    val minS = stats.min_values.get(colName)
    val maxS = stats.max_values.get(colName)
    if (minS.isEmpty || maxS.isEmpty) return true
    val cmpMin = compare(minS.get, lit, dt).getOrElse(return true)
    val cmpMax = compare(maxS.get, lit, dt).getOrElse(return true)
    op match {
      case "=" | "==" =>
        // range check first, then the bloom (a bloom that proves the
        // literal absent drops the file even inside the range). The bloom
        // hashed the CANONICAL value rendering (Spark CAST), so integral
        // literals must canonicalize before probing — "007"/"+5"/"5e0"
        // would otherwise miss the sketch and unsoundly prune the file;
        // an uncanonicalizable literal skips the bloom, never the range.
        cmpMin <= 0 && cmpMax >= 0 && (dt match {
          case StringType =>
            BloomSkip.mightContain(f, colName, lit).getOrElse(true)
          case IntegerType | LongType =>
            canonicalIntegral(lit) match {
              case Some(c) =>
                BloomSkip.mightContain(f, colName, c).getOrElse(true)
              case None => true
            }
          case _ => true
        })
      case "!=" | "<>" => !(cmpMin == 0 && cmpMax == 0) // not all == lit
      case ">" => cmpMax > 0
      case ">=" => cmpMax >= 0
      case "<" => cmpMin < 0
      case "<=" => cmpMin <= 0
    }
  }

  /** Exact canonical rendering of an integral literal (what Spark's CAST
    * to string — and therefore [[BloomSkip.build]] — produced): None when
    * the text is not an exact integer.
    */
  private def canonicalIntegral(lit: String): Option[String] =
    try Some(new java.math.BigDecimal(lit.trim).toBigIntegerExact.toString)
    catch { case _: ArithmeticException | _: NumberFormatException => None }

  /** compare(statValue, literal) in the column's type domain; None if either
    * side fails to parse (stats are stored stringified).
    */
  private def compare(stat: String, lit: String, dt: DataType): Option[Int] =
    try dt match {
      case IntegerType | LongType | FloatType | DoubleType =>
        StatCompare.numeric(stat, lit)
      case BooleanType =>
        Some(java.lang.Boolean.compare(stat.toBoolean, lit.toBoolean))
      case StringType => Some(StatCompare.codePoints(stat, lit))
      case DateType => Some(StatCompare.codePoints(stat, lit)) // fixed-width ISO
      case TimestampType => StatCompare.timestamp(stat, lit)
      case _ => None
    } catch { case _: IllegalArgumentException => None }
}

/** Exact stat-vs-literal comparison kernels shared by the 3-token pruner
  * and the Catalyst [[LakeFileIndex]] — one implementation so the two read
  * paths can never prune inconsistently. All of these exist because the
  * "obvious" comparison is UNSOUND for pruning:
  *  - doubles lose integer precision above 2^53 (an int64 stat and a
  *    nearby literal collapse to the same double and `>` falsely prunes);
  *  - java String.compareTo orders by UTF-16 code unit, but Spark string
  *    comparison is binary UTF-8 = code-POINT order — they disagree on
  *    supplementary characters vs U+E000..U+FFFF;
  *  - timestamp stats trim trailing fractional zeros while user literals
  *    need not, so lexicographic comparison of semantically equal values
  *    is nonzero;
  *  - timestamp stats are wall-clock times in the writer's session zone,
  *    which the log does not record, while a Catalyst literal is an
  *    instant: [[zonedTimestamp]] bounds the stat's instant by the full
  *    zone-offset range instead of assuming a zone.
  * The 3-token pruner compares its wall-clock literal with [[timestamp]];
  * [[LakeFileIndex]] compares instants with [[zonedTimestamp]].
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

  /** Semantic timestamp compare for `yyyy-MM-dd HH:mm:ss[.fff...]` strings
    * (the stat serialization); None on any other shape. */
  def timestamp(stat: String, lit: String): Option[Int] =
    try Some(java.sql.Timestamp.valueOf(stat.trim)
      .compareTo(java.sql.Timestamp.valueOf(lit.trim)))
    catch { case _: IllegalArgumentException => None }

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
