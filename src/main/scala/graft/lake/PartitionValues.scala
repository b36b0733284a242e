package graft.lake

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Log partition-map strings → Catalyst internal values (shared by the
  * batch [[LakeFileIndex]] and the streaming source). */
object PartitionValues {

  def internalValue(v: String, dt: DataType): Any = dt match {
    case IntegerType => v.toInt
    case LongType => v.toLong
    case BooleanType => v.toBoolean
    case DateType => java.time.LocalDate.parse(v).toEpochDay.toInt
    case _ => UTF8String.fromString(v)
  }
}
