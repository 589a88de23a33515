package graft.core

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, GraftCodegenBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** Identity expression whose generated code lives in a private method of its
  * own, called with the local input values it reads.
  *
  * Whole-stage codegen inlines every expression of a projection into one
  * method, so a projection of N check conditions grows one method with N and
  * crosses HotSpot's 8000-byte JIT limit, past which the method runs
  * interpreted (the reference 24-row-rule suite: 6.5 KB; 64 rules: 10.4 KB).
  * With each condition in its own method the fused method keeps one call
  * per rule. Object-typed children only (a primitive would need a second
  * return value for its null flag); anything else, or an input list over
  * the JVM's parameter limit, generates inline.
  */
case class OwnMethod(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (CodeGenerator.isPrimitiveType(dataType)) child.genCode(ctx)
    else {
      // inputs not yet evaluated come back as `pending`: emit them here
      val (inputs, pending) =
        CodeGenerator.getLocalInputVariableValues(ctx, child, GraftCodegenBridge.subExprs(ctx))
      val pre = pending.toSeq.map(_.code.toString).sorted.mkString("\n")
      val params = inputs.toSeq.sortBy(_.variableName)
      val c = child.genCode(ctx)
      if (!CodeGenerator.isValidParamLength(CodeGenerator.calculateParamLengthFromExprValues(params)))
        c.copy(code = code"""
          |$pre
          |${c.code}""".stripMargin)
      else {
        val javaType = CodeGenerator.javaType(dataType)
        val name = ctx.freshName("ownMethod")
        val fn = ctx.addNewFunction(name,
          s"""private $javaType $name(${params.map(v =>
            s"${CodeGenerator.typeName(v.javaType)} ${v.variableName}").mkString(", ")}) {
             |  ${c.code}
             |  return ${c.isNull} ? null : ${c.value};
             |}""".stripMargin)
        ev.copy(code = code"""
          |$pre
          |$javaType ${ev.value} = $fn(${params.map(_.variableName).mkString(", ")});
          |boolean ${ev.isNull} = ${ev.value} == null;""".stripMargin)
      }
    }

  override protected def withNewChildInternal(c: Expression): OwnMethod = copy(child = c)
}

object OwnMethod {
  def apply(c: Column): Column = GraftColumnBridge.column(OwnMethod(GraftColumnBridge.expression(c)))
}
