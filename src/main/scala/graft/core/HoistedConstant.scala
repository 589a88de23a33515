package graft.core

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** Identity expression that keeps a run constant out of the generated code.
  *
  * Spark folds `current_timestamp()` to a literal per query and inlines a
  * primitive literal into the generated Java as `<micros>L`, so every query
  * gets new code text: it misses the codegen cache and starts cold in the JIT.
  * This wrapper is not foldable, so the optimizer folds its child (every
  * wrapper of one query still sees the same instant) but not the wrapper;
  * code generation then hands the folded value over as a reference object.
  * An unfolded child generates its own code.
  */
case class HoistedConstant(child: Expression) extends UnaryExpression {
  override def foldable: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!child.foldable || !child.deterministic) child.genCode(ctx)
    else child.eval() match {
      case null => child.genCode(ctx) // a null literal carries no value
      case v =>
        val javaType = CodeGenerator.javaType(dataType)
        val ref = ctx.addReferenceObj("hoisted", v, CodeGenerator.boxedType(dataType))
        val value = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
        ev.copy(code = code"$javaType ${ev.value} = $value;", isNull = FalseLiteral)
    }

  override protected def withNewChildInternal(c: Expression): HoistedConstant = copy(child = c)
}

object HoistedConstant {
  def apply(c: Column): Column =
    GraftColumnBridge.column(HoistedConstant(GraftColumnBridge.expression(c)))
}
