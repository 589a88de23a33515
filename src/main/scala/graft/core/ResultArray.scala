package graft.core

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ConditionalExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One element of a result column as fixed for the run: every
  * [[DQSchemas.resultItem]] field except `message` (per row) and `run_time`
  * (the query's instant). `skippedMessage` marks a rule that failed analysis:
  * its element is present on every row with that message.
  */
final case class ResultEntry(name: String, columns: Seq[String], filter: Option[String],
                             function: String, userMetadata: Seq[(String, String)],
                             ruleFingerprint: String, skippedMessage: Option[String])

/** The run constants of one result column, in rule order. Handed to generated
  * code as ONE reference object, so two runs with the same rule shape
  * generate byte-identical code whatever their run id, metadata or instant.
  * `runTime` is the optimizer-folded instant (microseconds), filled in at
  * code generation.
  */
final case class ResultLayout(entries: Seq[ResultEntry], runId: String, ruleSetFingerprint: String,
                              runTime: java.lang.Long = null) {
  /** Rules with a per-row message slot (the non-skipped ones). */
  val slots: Int = entries.count(_.skippedMessage.isEmpty)

  // one struct template per entry; `message` (1) and `run_time` (5) vary
  @transient private lazy val templates: Array[Array[Any]] = entries.map { e =>
    def s(v: String): UTF8String = UTF8String.fromString(v)
    val meta =
      if (e.userMetadata.isEmpty) null
      else ArrayBasedMapData(e.userMetadata.map(kv => s(kv._1)).toArray[Any],
        e.userMetadata.map(kv => s(kv._2)).toArray[Any])
    Array[Any](s(e.name), e.skippedMessage.map(s).orNull,
      if (e.columns.isEmpty) null else new GenericArrayData(e.columns.map(s).toArray[Any]),
      e.filter.map(s).orNull, s(e.function), null, s(runId), meta, s(e.ruleFingerprint),
      s(ruleSetFingerprint), e.skippedMessage.isDefined)
  }.toArray
  @transient private lazy val skipped: Array[Boolean] = entries.map(_.skippedMessage.isDefined).toArray

  /** The result array of one row: an element per skipped rule and per fired
    * slot, in rule order, or NULL when there is none. Clears the slots it reads.
    */
  def build(fired: Array[Boolean], messages: Array[UTF8String], runTime: java.lang.Long): ArrayData = {
    val ts = templates
    var out: Array[Any] = null
    var n, slot, i = 0
    while (i < ts.length) {
      val active = !skipped(i)
      if (!active || fired(slot)) {
        val v = ts(i).clone()
        if (active) v(1) = messages(slot)
        v(5) = runTime
        if (out == null) out = new Array[Any](ts.length - i)
        out(n) = new GenericInternalRow(v)
        n += 1
      }
      if (active) { fired(slot) = false; messages(slot) = null; slot += 1 }
      i += 1
    }
    if (n == 0) null else new GenericArrayData(if (n == out.length) out else out.take(n))
  }

  // plan strings name the shape, not every entry of a wide rule set
  override def toString: String = s"ResultLayout(${entries.size} rules, $slots slots)"
}

/** One result column (`_errors` or `_warnings`) as one Catalyst expression.
  *
  * Children are only what varies per row: each slot's guard (`filter AND
  * cond IS NOT NULL`) and message, then `run_time`. Everything fixed for the
  * run sits in the [[ResultLayout]] reference object, never in the generated
  * text; the generated method only fills a message slot per fired rule and
  * calls [[ResultLayout.build]], ordinary Scala that the JIT compiles once for
  * every query. Messages are conditional inputs (evaluated only when their
  * guard holds), so subexpression elimination never hoists one out of its
  * guard.
  */
case class ResultArray(layout: ResultLayout, children: Seq[Expression]) extends ConditionalExpression {
  private def n = layout.slots
  private def guards = children.take(n)
  private def messages = children.slice(n, 2 * n)
  private def runTime = children.last

  override def dataType: DataType = DQSchemas.resultArray
  override def nullable: Boolean = true
  override def alwaysEvaluatedInputs: Seq[Expression] = guards :+ runTime
  override def branchGroups: Seq[Seq[Expression]] = Nil
  override def withNewAlwaysEvaluatedInputs(always: Seq[Expression]): ResultArray =
    copy(children = always.take(n) ++ messages :+ always.last)

  override def eval(input: InternalRow): Any = {
    val fired = new Array[Boolean](n)
    val msgs = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (children(i).eval(input) == true) {
        fired(i) = true
        msgs(i) = children(n + i).eval(input).asInstanceOf[UTF8String]
      }
      i += 1
    }
    layout.build(fired, msgs, runTime.eval(input).asInstanceOf[java.lang.Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // a folded instant travels in the layout object, never as a code literal
    val rt = if (runTime.foldable && runTime.deterministic) None else Some(runTime.genCode(ctx))
    val folded = if (rt.isEmpty) layout.copy(runTime = runTime.eval().asInstanceOf[java.lang.Long]) else layout
    val ref = ctx.addReferenceObj("dqResultLayout", folded, classOf[ResultLayout].getName)
    val fired = ctx.addMutableState("boolean[]", "dqFired", v => s"$v = new boolean[$n];")
    val msgs = ctx.addMutableState("UTF8String[]", "dqMsgs", v => s"$v = new UTF8String[$n];")
    val perSlot = (0 until n).map { i =>
      val g = guards(i).genCode(ctx)
      val m = messages(i).genCode(ctx)
      s"""${g.code}
         |if (!${g.isNull} && ${g.value}) {
         |  ${m.code}
         |  $fired[$i] = true;
         |  $msgs[$i] = ${m.isNull} ? null : ${m.value};
         |}""".stripMargin
    }
    // outside whole-stage codegen (past spark.sql.codegen.maxFields, about
    // 100 rules) the slots split into methods over the input row
    val slotCode =
      if (ctx.currentVars == null && ctx.INPUT_ROW != null)
        ctx.splitExpressionsWithCurrentInputs(perSlot, funcName = "dqResultSlots")
      else perSlot.mkString("\n")
    val rtArg = rt.map(e => s"${e.isNull} ? null : java.lang.Long.valueOf(${e.value})")
      .getOrElse(s"$ref.runTime()")
    ev.copy(code = code"""
      |$slotCode
      |${rt.map(_.code).getOrElse(EmptyBlock)}
      |ArrayData ${ev.value} = $ref.build($fired, $msgs, $rtArg);
      |boolean ${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): ResultArray =
    copy(children = cs)
}

object ResultArray {
  def apply(layout: ResultLayout, guards: Seq[Column], messages: Seq[Column], runTime: Column): Column = {
    import GraftColumnBridge.expression
    GraftColumnBridge.column(ResultArray(layout,
      guards.map(expression) ++ messages.map(m => expression(m.cast(StringType))) :+ expression(runTime)))
  }
}
