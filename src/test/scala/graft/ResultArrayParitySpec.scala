package graft

import graft.checks.RowChecks
import graft.core._
import graft.engine.DQEngine
import graft.rules._
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.util.{Failure, Success, Try}

/** Differential parity of the engine's result columns against the formula
  * they replaced: per rule a 0/1-element `array(struct(...))` under
  * `when(filter AND cond IS NOT NULL)`, all of them `concat`ed and NULLed when
  * empty. The reference reads the same checks in the same query, so a default
  * `current_timestamp()` run time is one instant on both sides.
  */
class ResultArrayParitySpec extends SparkSpec {

  /** The pre-ResultArray assembly, kept as the reference implementation. */
  private def referenceColumn(rules: Seq[(DQRule, Either[String, Column])], extra: ExtraParams,
                              runTime: Column, runId: String, ruleSetFp: String): Column = {
    def mkStruct(r: DQRule, message: Column, skipped: Boolean): Column = {
      val meta = extra.userMetadata ++ r.userMetadata
      val metadataCol =
        if (meta.isEmpty) lit(null).cast("map<string,string>")
        else map(meta.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      struct(
        lit(r.resolvedName).as("name"),
        message.as("message"),
        (if (r.columns.isEmpty) lit(null).cast("array<string>")
         else array(r.columns.map(lit): _*)).as("columns"),
        r.filter.map(lit(_)).getOrElse(lit(null).cast("string")).as("filter"),
        lit(r.function).as("function"),
        runTime.as("run_time"),
        lit(runId).as("run_id"),
        metadataCol.as("user_metadata"),
        lit(r.fingerprint).as("rule_fingerprint"),
        lit(ruleSetFp).as("rule_set_fingerprint"),
        lit(skipped).as("skipped"))
    }
    val parts = rules.flatMap {
      case (r, Left(msg)) =>
        if (extra.suppressSkipped) None else Some(array(mkStruct(r, lit(msg), skipped = true)))
      case (r, Right(cond)) =>
        val filterC = r.filter.map(f => expr(f)).getOrElse(lit(true))
        val message = r.messageExpr.map(me => substring(expr(me), 1, 500)).getOrElse(cond)
        Some(when(filterC && cond.isNotNull, array(mkStruct(r, message, skipped = false)))
          .otherwise(array().cast(DQSchemas.resultArray)))
    }
    if (parts.isEmpty) lit(null).cast(DQSchemas.resultArray)
    else {
      val arr = concat(parts: _*)
      when(size(arr) > 0, arr).otherwise(lit(null).cast(DQSchemas.resultArray))
    }
  }

  /** Engine output next to the reference columns `ref_errors`/`ref_warnings`. */
  private def withReference(df: DataFrame, rules: Seq[DQRowRule], extra: ExtraParams): DataFrame = {
    val checked = DQEngine.applyChecks(df, rules, extra)
    val compiled = rules.map { r =>
      Try {
        df.select(r.check)
        r.filter.foreach(f => df.select(expr(f)))
        r.messageExpr.foreach(me => df.select(expr(me)))
      } match {
        case Success(_) => r -> Right(r.check)
        case Failure(e: AnalysisException) =>
          r -> Left(s"Check skipped: ${e.getMessage.linesIterator.next()}")
        case Failure(e) => throw e
      }
    }
    val runTime = extra.runTimeOverwrite.map(t => lit(t).cast("timestamp")).getOrElse(current_timestamp())
    val fp = Fingerprint.ruleSetFingerprint(rules.map(_.fingerprint))
    val (errs, warns) = compiled.partition(_._1.criticality == Criticality.Error)
    checked.select(col("*"),
      referenceColumn(errs, extra, runTime, extra.runIdOverwrite.get, fp).as("ref_errors"),
      referenceColumn(warns, extra, runTime, extra.runIdOverwrite.get, fp).as("ref_warnings"))
  }

  private val modes: Seq[(String, Map[String, String])] = for {
    (engine, confs) <- Seq(
      "whole-stage codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "FALLBACK"),
      "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    ansi <- Seq("true", "false")
  } yield (s"$engine, ansi=$ansi", confs + ("spark.sql.ansi.enabled" -> ansi))

  private def withConfs[T](kv: Map[String, String])(f: => T): T = {
    val saved = kv.keys.map(k => k -> spark.conf.getAll.get(k)).toMap // explicit settings only
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Not a local relation: ConvertToLocalRelation would evaluate the checks
    * in the optimizer and bypass the generated code under test.
    */
  private def frame: DataFrame = spark.range(0, 60, 1, 3).select(
    col("id"),
    when(col("id") % 5 === 0, lit(null)).otherwise(concat(lit("n"), col("id").cast("string"))).as("name"),
    ((col("id") * 7) % 23 - 5).cast("int").as("amount"),
    when(col("id") % 9 === 0, lit("2090-06-01 00:00:00")).otherwise(lit("2001-06-01 00:00:00"))
      .cast("timestamp").as("ts"),
    concat(lit("info"), col("id").cast("string")).as("_dq_info"))

  private val R = RowChecks
  private val rules: Seq[DQRowRule] = Seq(
    DQRowRule(R.isNotNull(col("name")), "is_not_null", Seq("name"),
      userMetadata = Map("owner" -> "a", "k" -> "rule")),
    DQRowRule(R.isNotLessThan(col("amount"), 0), "is_not_less_than", Seq("amount"),
      criticality = Criticality.Warn, filter = Some("id % 2 = 0")),
    DQRowRule(R.isNotInFuture(col("ts"), 0), "is_not_in_future", Seq("ts")),
    // no columns; a 600-char custom message is cut to 500
    DQRowRule(R.sqlExpression("amount < 15"), "sql_expression", criticality = Criticality.Warn,
      messageExpr = Some("repeat(concat('m', cast(id as string)), 300)")),
    DQRowRule(R.isNotNull(col("name")), "is_not_null", Seq("name"), name = "dup",
      criticality = Criticality.Warn),
    DQRowRule(R.isNotGreaterThan(col("amount"), 10), "is_not_greater_than", Seq("amount"),
      name = "dup", criticality = Criticality.Warn),
    DQRowRule(R.isNotNull(col("missing")), "is_not_null", Seq("missing")),
    DQRowRule(R.isNotLessThan(col("amount"), 5), "is_not_less_than", Seq("amount"),
      filter = Some("id > 3"),
      messageExpr = Some("case when id % 3 = 0 then null else 'custom' end")))

  private val extras: Seq[(String, ExtraParams)] = Seq(
    "engine metadata, default run time" -> ExtraParams(runIdOverwrite = Some("run-a"),
      userMetadata = Map("k" -> "engine", "env" -> "test")),
    "runTimeOverwrite, suppressSkipped, custom names" -> ExtraParams(runIdOverwrite = Some("run-b"),
      runTimeOverwrite = Some(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
      suppressSkipped = true, resultColumnNames = ResultColumnNames("errs", "warns", "info")))

  for ((mode, confs) <- modes; (label, extra) <- extras) {
    test(s"result columns match the concat/when/struct formula: $label ($mode)") {
      withConfs(confs) {
        val names = extra.resultColumnNames
        val out = withReference(frame, rules, extra)
        assert(out.schema(names.errors).dataType == DQSchemas.resultArray)
        assert(out.schema(names.errors).dataType == out.schema("ref_errors").dataType)
        assert(out.schema(names.warnings).dataType == out.schema("ref_warnings").dataType)
        val rows = out.select(col(names.errors), col("ref_errors"), col(names.warnings),
          col("ref_warnings"), col("_dq_info"), concat(lit("info"), col("id").cast("string")))
          .collect()
        assert(rows.length == 60)
        rows.foreach { r =>
          assert(r.get(0) == r.get(1))
          assert(r.get(2) == r.get(3))
          assert(r.get(4) == r.get(5)) // a pre-existing _dq_info passes through
        }
        // the cases actually fire: truncation, null custom messages, skips
        val warnMsgs = rows.flatMap(r => Option(r.getSeq[org.apache.spark.sql.Row](2)).toSeq.flatten)
          .map(_.getAs[String]("message"))
        assert(warnMsgs.exists(m => m != null && m.length == 500))
        val errItems = rows.flatMap(r => Option(r.getSeq[org.apache.spark.sql.Row](0)).toSeq.flatten)
        assert(errItems.exists(i => i.getAs[String]("name") == "missing_is_not_null") == !extra.suppressSkipped)
        assert(errItems.exists(i => i.getAs[String]("message") == null && !i.getAs[Boolean]("skipped")))
        assert(errItems.exists(_.getAs[String]("name") == "ts_is_not_in_future"))
      }
    }

    test(s"an all-clean frame keeps both result columns NULL: $label ($mode)") {
      withConfs(confs) {
        val clean = Seq(
          DQRowRule(R.isNotNull(col("id")), "is_not_null", Seq("id")),
          DQRowRule(R.isNotLessThan(col("id"), 0), "is_not_less_than", Seq("id"),
            criticality = Criticality.Warn, filter = Some("amount > 0")))
        val names = extra.resultColumnNames
        val rows = withReference(frame, clean, extra)
          .select(col(names.errors), col("ref_errors"), col(names.warnings), col("ref_warnings")).collect()
        assert(rows.length == 60)
        rows.foreach(r => assert((0 until 4).forall(r.isNullAt)))
      }
    }
  }
}
