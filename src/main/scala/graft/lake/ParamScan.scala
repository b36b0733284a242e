package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types._

/** A literal whose generated code reads its value from the stage's
  * `references` array — as Spark's own Decimal and String literals do —
  * instead of inlining it into the Java source. Everything else (value,
  * type, EXPLAIN text) is the wrapped literal's. Not a `Literal` subclass:
  * `Literal.equals` would call it equal to the original, and a tree
  * transform would keep the unwrapped node. */
case class ParamLiteral(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = lit.nullable
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = lit.value
  override def sql: String = lit.sql
  override def toString: String = lit.toString

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", lit.value,
      CodeGenerator.boxedType(dataType))
    ExprCode.forNonNullValue(
      JavaCode.expression(s"$ref.${javaType}Value()", dataType))
  }
}

/** Plans file scans exactly as `FileSourceStrategy` does, then keeps
  * filter and projection literals out of the generated code: a primitive
  * literal Spark would inline makes every new date window or key range a
  * new class, compiled twice with Janino (the codegen cache is keyed by
  * class loader and source — once on the driver, once under the executor's
  * loader). The rewrite is physical, so the scan's data filters — which
  * [[LakeFileIndex]] prunes by and parquet pushes down — keep the plain
  * literals. */
object ParamScan extends SparkStrategy {

  private val hoisted: Set[DataType] = Set(IntegerType, LongType,
    ShortType, ByteType, FloatType, DoubleType, DateType, TimestampType,
    TimestampNTZType)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    FileSourceStrategy(plan).map(_.transformUp {
      case f: FilterExec => f.copy(condition = params(f.condition))
      case p: ProjectExec => p.copy(projectList =
        p.projectList.map(params(_).asInstanceOf[NamedExpression]))
    })

  /** Wrap each non-null literal that is a DIRECT operand of a comparison,
    * an IN list or arithmetic — never e.g. `rand`'s seed or `round`'s
    * scale, which their operators read as real literals. Bottom-up, so a
    * wrapped literal is never visited again. */
  private def params(e: Expression): Expression = e.transformUp {
    case op @ (_: BinaryComparison | _: In | _: BinaryArithmetic) =>
      op.mapChildren {
        case l: Literal if l.value != null && hoisted(l.dataType) =>
          ParamLiteral(l)
        case c => c
      }
  }

  /** Put the strategy first in `spark`'s planner, once per session. */
  def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    if (!x.extraStrategies.contains(this)) x.synchronized {
      if (!x.extraStrategies.contains(this))
        x.extraStrategies = this +: x.extraStrategies
    }
  }
}
