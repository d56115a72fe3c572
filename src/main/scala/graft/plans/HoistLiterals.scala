package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types._

/** A non-null literal whose value reaches generated code through the
  * class's `references` array instead of the Java source text.
  *
  * Spark's codegen splices numeric and datetime literals straight into
  * the source, so two plans that differ only in such a value compile to
  * two classes: the generated-class cache is keyed by source. Here the
  * value is read once, when the generated object is constructed, into
  * a field; the source is the same for every value, and the compiled
  * class is shared.
  *
  * It prints and renders to SQL exactly like the literal it replaces,
  * so explain output and plan strings do not change. It is not
  * `foldable`: an expression that needs a constant argument at planning
  * time never sees one (and [[HoistLiterals]] never hoists into one).
  */
case class HoistedLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  private def literal = Literal(value, dataType)
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("hoisted", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "hoisted",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Physical-plan rule: replace the per-request literals of a plan with
  * [[HoistedLiteral]]s before whole-stage codegen, so repeated requests
  * that differ only in those values reuse their compiled classes.
  *
  * A served feed is recompiled into a fresh plan on every request, and
  * its window bounds and HN age anchor move with the request's clock
  * (`InputWindow`, `PipelineJson.hnExpr`); with the values in the
  * source every request missed the codegen cache.
  *
  * Only non-null `Long`/`Int`/`Double`/`Timestamp`/`Date` literals that
  * are direct operands of a comparison or of `+ - * /` are hoisted:
  * those are where per-request values sit, and no expression requires
  * such an operand to be foldable. Arguments that must stay constant
  * (a `round` scale, a regex pattern, a `pow` exponent) are never
  * operands of these, so they are never touched.
  *
  * Two kinds of operator keep their literals:
  *  - leaf scans, so pushed filters, row-group pruning and the
  *    optimizer's time-conversion pushdown see exactly what they did;
  *  - exchanges, whose partitioning is matched against required
  *    distributions when adaptive execution re-plans around a finished
  *    stage (a hoisted key would no longer match and add a shuffle).
  *
  * Installed as a pre-transition columnar rule (`GraftSession.extensions`),
  * which runs before `CollapseCodegenStages` in both the non-adaptive
  * preparations and adaptive execution's per-stage rules.
  */
object HoistLiterals extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p if !p.isInstanceOf[LeafExecNode] && !p.isInstanceOf[Exchange] =>
      p.transformExpressionsUp {
        case e @ (_: BinaryComparison | _: Add | _: Subtract | _: Multiply | _: Divide) =>
          e.mapChildren {
            case Literal(v, t) if v != null && hoistable(t) => HoistedLiteral(v, t)
            case c => c
          }
      }
  }

  private def hoistable(t: DataType): Boolean = t match {
    case LongType | IntegerType | DoubleType | TimestampType | DateType => true
    case _ => false
  }
}
