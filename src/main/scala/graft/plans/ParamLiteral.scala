package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A filter constant whose generated code reads the value from the
  * compiled class's `references` array instead of inlining it.
  *
  * Spark inlines numeric, date and timestamp literals into generated
  * Java source, and its codegen cache is keyed on that source, so a
  * query re-run with a new key compiles its filter's stages again, one
  * Janino compile per class. Strings already go by reference; this does
  * the same for the primitive types. The source is then the same for
  * every key value and the compiled class is reused.
  *
  * It renders (`toString`, `sql`) and compares like the [[Literal]] it
  * replaces: EXPLAIN text does not change, and two plans that differ only
  * in a constant never compare equal, so exchange and subquery reuse
  * stay exact. It is not foldable and never null. */
final case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  @transient private lazy val literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    ExprCode.forNonNullValue(
      JavaCode.global(s"((${CodeGenerator.javaType(dataType)}) $ref)", dataType))
  }

  override def toString: String = literal.toString
  override def sql: String = literal.sql
  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral => literal == p.literal
    case _ => false
  }
  override def hashCode: Int = literal.hashCode
}

/** Rewrites the non-null boolean, integral, floating-point, date and
  * timestamp constants of every `FilterExec` condition into
  * [[ParamLiteral]]s. It runs on the physical plan right before
  * `CollapseCodegenStages` (through [[ParameterizeFilters.Hook]]), so
  * the optimizer's folding and `In` → `InSet` decisions, join selection
  * and the file scans' partition, data and pushed filters all still see
  * real literals: file and row-group skipping are unchanged. */
object ParameterizeFilters extends Rule[SparkPlan] {
  private val Params: Set[DataType] = Set(BooleanType, ByteType, ShortType, IntegerType,
    LongType, FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)

  def apply(plan: SparkPlan): SparkPlan = plan.transform {
    case f: FilterExec => f.copy(condition = f.condition.transform {
      case Literal(v, t) if v != null && Params(t) => ParamLiteral(v, t)
    })
  }

  /** `preColumnarTransitions` runs right before `CollapseCodegenStages`:
    * in the query preparations without AQE, and in AQE's post-stage-
    * creation rules for every stage and the final plan with it. */
  object Hook extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParameterizeFilters
  }
}
