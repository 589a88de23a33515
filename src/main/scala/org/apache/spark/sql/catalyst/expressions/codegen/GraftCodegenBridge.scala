package org.apache.spark.sql.catalyst.expressions.codegen

import org.apache.spark.sql.catalyst.expressions.ExpressionEquals

/** Bridge to the codegen context's package-private subexpression states, so
  * an expression that moves its code into a method of its own can pass the
  * states' local values in as parameters. Lives in Spark's codegen package
  * solely to satisfy access control.
  */
object GraftCodegenBridge {
  def subExprs(ctx: CodegenContext): Map[ExpressionEquals, SubExprEliminationState] =
    ctx.subExprEliminationExprs
}
