package graft.lake

import java.nio.file.Path
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.types._

/** Per-file row counts and min/max column statistics from the parquet
  * FOOTER — the metadata the writer already computed — instead of a Spark
  * re-scan of the staged data. Commit cost becomes O(#files), not O(rows):
  * at 100 TB a large insert stats thousands of files with zero data I/O,
  * where a scan-based stats job would re-read the whole write.
  *
  * The reference carries stats in its log schema (`proto/metadata.proto:
  * 102-105`) but fabricates them (`table_service.go:416-425`); we emit real
  * values in the exact string encodings [[LakeFileIndex]] parses: decimal
  * numerics, ISO dates, Spark-cast-style timestamps, raw strings,
  * `true`/`false` booleans.
  *
  * Conservative by construction: any column whose chunk statistics are
  * absent (INT96 timestamps, >4 KB binary values, NaN-polluted doubles)
  * simply gets no entry, and the readers keep files with missing stats.
  * Truncated binary stats (parquet rounds the min down and the max up) stay
  * valid bounds, so pruning soundness is unaffected.
  */
object FooterStats {

  /** (rowCount, min per column, max per column, null count per column) for
    * one parquet file. A column gets a null-count entry only when EVERY
    * chunk recorded `num_nulls` (writers may omit it); min/max rules are
    * unchanged. */
  def read(hadoopConf: Configuration, file: Path, cols: Seq[StructField],
           sessionTz: String)
      : (Long, Map[String, String], Map[String, String], Map[String, Long]) = {
    // read options from the caller's conf: the one-argument open builds
    // them from a fresh Configuration, whose first read re-parses the
    // core-*.xml resources off the classpath (milliseconds per footer)
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(file.toUri), hadoopConf),
      HadoopReadOptions.builder(hadoopConf).build())
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val mins = Map.newBuilder[String, String]
      val maxs = Map.newBuilder[String, String]
      val nulls = Map.newBuilder[String, Long]
      for (f <- cols) {
        val chunks = blocks.flatMap(
          _.getColumns.asScala.find(_.getPath.toDotString == f.name))
        val stats = chunks.map(_.getStatistics)
        // usable only when every chunk recorded statistics (all-null chunks
        // count: they record numNulls and contribute no values)
        if (stats.nonEmpty && stats.forall(s => s != null && !s.isEmpty)) {
          if (stats.forall(_.isNumNullsSet))
            nulls += f.name -> stats.map(_.getNumNulls).sum
          val withValues = stats.filter(_.hasNonNullValue)
          if (withValues.nonEmpty) {
            val cmp = withValues.head.comparator
              .asInstanceOf[java.util.Comparator[Any]]
            val lo = withValues.map(_.genericGetMin: Any)
              .reduce((a, b) => if (cmp.compare(a, b) <= 0) a else b)
            val hi = withValues.map(_.genericGetMax: Any)
              .reduce((a, b) => if (cmp.compare(a, b) >= 0) a else b)
            val unit = timestampUnit(chunks.head)
            for (l <- render(lo, f.dataType, sessionTz, unit, roundUp = false);
                 h <- render(hi, f.dataType, sessionTz, unit, roundUp = true)) {
              mins += f.name -> l
              maxs += f.name -> h
            }
          }
        }
      }
      (rows, mins.result(), maxs.result(), nulls.result())
    } finally reader.close()
  }

  private def timestampUnit(
      chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[TimeUnit] =
    chunk.getPrimitiveType.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        Some(t.getUnit)
      case _ => None
    }

  /** Stat value → the string form the pruning readers parse; None drops the
    * column's stats for this file (NaN bounds, exotic physical types).
    * `roundUp` applies where rendering loses precision (NANOS→micros): an
    * UPPER bound must round up or pruning understates the max and drops
    * matching files. */
  private def render(v: Any, dt: DataType, tz: String,
                     unit: Option[TimeUnit],
                     roundUp: Boolean = false): Option[String] = dt match {
    case IntegerType | LongType | BooleanType => Some(v.toString)
    case FloatType =>
      // exact-DOUBLE decimal, not Float.toString: Spark evaluates a
      // float-vs-literal predicate in the DOUBLE domain (the float
      // promotes), so the stat must bound the promoted values.
      // Float.toString("0.3") re-parses as decimal 0.3 < the value's
      // true double 0.30000001192…, and a literal strictly between the
      // two would prune a file whose rows match. The exact decimal of
      // the promoted double compares correctly in both domains (and
      // stays correct if the column is later widened to float64).
      val f = v.asInstanceOf[java.lang.Float]
      if (f.isNaN || f.isInfinite) None
      else Some(new java.math.BigDecimal(f.doubleValue()).toPlainString)
    case DoubleType =>
      val d = v.asInstanceOf[java.lang.Double]
      if (d.isNaN) None else Some(d.toString)
    case StringType => Some(v.asInstanceOf[Binary].toStringUsingUTF8)
    case DateType =>
      Some(java.time.LocalDate.ofEpochDay(
        v.asInstanceOf[java.lang.Integer].longValue()).toString)
    case TimestampType =>
      val raw = v.asInstanceOf[java.lang.Long].longValue()
      unit.collect {
        case TimeUnit.MICROS => tsString(raw, tz)
        case TimeUnit.MILLIS => tsString(Math.multiplyExact(raw, 1000L), tz)
        case TimeUnit.NANOS =>
          val micros = if (roundUp) Math.floorDiv(raw + 999L, 1000L)
                       else Math.floorDiv(raw, 1000L)
          tsString(micros, tz)
      }
    case _ => None
  }

  /** Micros-since-epoch → Spark's `cast(ts as string)` rendering in the
    * session timezone: `yyyy-MM-dd HH:mm:ss[.f…]` with the fractional part
    * trimmed of trailing zeros. The zone is not recorded, so
    * [[LakeFileIndex]] reads the wall clock back as a bound widened by the
    * full zone-offset range ([[StatCompare.zonedTimestamp]]). */
  private[lake] def tsString(micros: Long, tz: String): String = {
    val instant = java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
    val ldt = java.time.LocalDateTime.ofInstant(instant, java.time.ZoneId.of(tz))
    val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-" +
      f"${ldt.getDayOfMonth}%02d ${ldt.getHour}%02d:" +
      f"${ldt.getMinute}%02d:${ldt.getSecond}%02d"
    val frac = Math.floorMod(micros, 1000000L)
    if (frac == 0L) base
    else base + "." + f"$frac%06d".reverse.dropWhile(_ == '0').reverse
  }
}
