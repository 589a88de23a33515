package graft.engine

import graft.checks.DatasetChecks
import graft.core._
import graft.rules._
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import scala.util.{Failure, Success, Try}

/** The rule-compiler engine (reference dqx/engine.py:120-619): given a
  * DataFrame and N rules, produce the same DataFrame plus `_errors` /
  * `_warnings` result columns — each an `array<struct>` of failed-check
  * descriptors, NULL when clean — in ONE pass over the data. Row checks
  * compile into a single projection; each dataset check contributes its
  * joins/windows upstream in the same Catalyst plan.
  *
  * The result projection is two projections. The first materializes each
  * rule's condition (message or NULL) once, each in a generated method of its
  * own ([[graft.core.OwnMethod]]). The second builds each result column with
  * one [[graft.core.ResultArray]]: its children are only the per-row guards,
  * messages and `run_time`, and everything fixed for the run (names,
  * fingerprints, run id, metadata, skipped entries, the folded instant) is
  * one reference object. So the engine owns its codegen budget: every
  * generated method stays far below HotSpot's 8000-byte JIT limit in a
  * default session, and two calls with one rule shape generate
  * byte-identical code, which Spark's codegen cache and the warm JIT reuse.
  */
object DQEngine {

  private final case class Compiled(rule: DQRule, condition: Column, skipped: Option[String])

  /** Apply rules, returning df + result columns (original columns preserved,
    * temp metric columns dropped).
    */
  def applyChecks(df: DataFrame, rules: Seq[DQRule], extra: ExtraParams = ExtraParams()): DataFrame = {
    val originalCols = df.columns.toSeq
    val runTime: Column = extra.runTimeOverwrite.map(t => lit(t).cast("timestamp"))
      .getOrElse(current_timestamp())
    val runId: String = extra.runIdOverwrite.getOrElse(java.util.UUID.randomUUID().toString)
    val ruleSetFp = Fingerprint.ruleSetFingerprint(rules.map(_.fingerprint))

    // Batched MAD stats: every has_no_outliers rule whose column/filter
    // resolves against the input shares TWO driver actions (all medians, then
    // all MADs) instead of 2 per rule. Bands come from the input frame `df` —
    // for a rule set where an earlier compare_datasets(checkMissingRecords)
    // APPENDS rows, the appended rows don't move the band (they would,
    // marginally, under the reference's per-rule-position stats).
    val batchableSpecs: Seq[graft.rules.MadSpec] = rules.collect {
      case r: DQDatasetRule if r.check.madSpec.isDefined => r.check.madSpec.get
    }.filter(sp => DatasetChecks.madSpecResolves(df, sp))
    val batchKeys = batchableSpecs.map(_.loCol).toSet
    lazy val madBands: Map[String, Option[(Double, Double)]] =
      DatasetChecks.computeMadBands(df, batchableSpecs)
    def attachBand(d: DataFrame, sp: graft.rules.MadSpec): DataFrame = madBands(sp.loCol) match {
      case Some((lo, hi)) => d.withColumn(sp.loCol, lit(lo)).withColumn(sp.hiCol, lit(hi))
      case None => d.withColumn(sp.loCol, lit(null).cast("double"))
        .withColumn(sp.hiCol, lit(null).cast("double"))
    }

    // Sequential fold of dataset-check applies; row checks are plan-time only.
    var current = df
    var appliedDatasetChecks = 0
    // true while every applied check kept the pristine frame's exact row
    // multiset, so later probes may aggregate over `df` instead of `current`
    var baseRowParity = true
    // data-dependent parity verdicts deferred until a later check actually
    // wants the base (DatasetCheck.rowPreservingProbe): (rule name, key, probe)
    var pendingParityProbes: List[(String, Option[String], () => Boolean)] = Nil
    // one probe ACTION per distinct key per applyChecks run (five compares
    // against the same ref cost one ref scan); never cached across runs
    val parityProbeResults = scala.collection.mutable.Map.empty[String, Boolean]
    def baseParityNow(): Boolean = {
      if (baseRowParity && pendingParityProbes.nonEmpty) {
        pendingParityProbes.reverse.foreach { case (name, key, probe) =>
          def result: Boolean = key match {
            case Some(k) => parityProbeResults.getOrElseUpdate(k, probe())
            case None => probe()
          }
          if (baseRowParity && !result) {
            baseRowParity = false
            val reason = "reference join keys are not unique (data probe), so the check " +
              "may fan out rows — stacked checks revert to chained frames"
            org.slf4j.LoggerFactory.getLogger(getClass).info(s"check '$name': $reason")
            extra.onBaseFallback.foreach(_(name, reason))
          }
        }
        pendingParityProbes = Nil
      }
      baseRowParity
    }
    val infoCols = scala.collection.mutable.ArrayBuffer[String]()
    // Budgeted logical-plan node count: returns true once the tree exceeds
    // `cap` WITHOUT walking further — an exponentially-grown plan must never
    // cost an exponential probe.
    def planExceeds(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                    cap: Int): Boolean = {
      var n = 0
      def visit(p: org.apache.spark.sql.catalyst.trees.TreeNode[_]): Boolean = {
        n += 1
        n > cap || p.children.exists(c =>
          visit(c.asInstanceOf[org.apache.spark.sql.catalyst.trees.TreeNode[_]]))
      }
      visit(plan)
    }
    var autoFenceLogged = false
    def maybeCheckpoint(): Unit = {
      // lazy localCheckpoint: lineage truncates NOW (the plan becomes a scan
      // of the checkpoint RDD) but nothing materializes until the first
      // action — rule compilation stays job-free
      extra.checkpointEvery match {
        case Some(n) =>
          if (n > 0 && appliedDatasetChecks % n == 0 && !current.isStreaming)
            current = current.localCheckpoint(eager = false)
        case None => extra.autoFencePlanNodes.foreach { cap =>
          if (cap > 0 && !current.isStreaming &&
            planExceeds(current.queryExecution.logical, cap)) {
            if (!autoFenceLogged) {
              autoFenceLogged = true
              org.slf4j.LoggerFactory.getLogger(getClass).info(
                s"auto-fencing plan growth: logical plan exceeded $cap nodes, " +
                  "localCheckpoint inserted (set ExtraParams.checkpointEvery to " +
                  "tune, autoFencePlanNodes=None to disable)")
            }
            current = current.localCheckpoint(eager = false)
          }
        }
      }
    }
    val compiled: Seq[Compiled] = rules.map {
      case r: DQRowRule =>
        // plan-time resolution probe — analysis only, no job (manager.py:323-345)
        probe(df, r.check, r.filter, r.messageExpr) match {
          case None => Compiled(r, r.check, None)
          case Some(err) =>
            // backtick-quoted retry (manager.py:323-356): rebuild the check
            // with quoted column arguments for names that need escaping
            quotedRetry(df, r) match {
              case Some(c) => Compiled(r, c, None)
              case None => Compiled(r, lit(null).cast("string"), Some(err))
            }
        }
      case r: DQDatasetRule =>
        val appliedTo = current // the frame this check's apply receives
        Try {
          val next = r.check.madSpec.filter(sp => batchKeys(sp.loCol)) match {
            case Some(sp) => attachBand(current, sp) // batched MAD band
            case None =>
              // prefer the pristine-base form (linear plan growth for
              // self-join probes; see DatasetCheck scaladoc), falling back
              // to the chained form when the base-bound build fails
              // analysis (e.g. row_filter on a previous check's column) or
              // a previous check broke row parity with the pristine frame.
              // Only ANALYSIS failures fall back (ADVICE r11): a runtime
              // error from an eager pass (compare's candidate collect,
              // sql_query dataset-mode take) must propagate, not silently
              // re-execute the same expensive work through applyFn.
              r.check.applyWithBase.filter(_ => baseParityNow()).flatMap { f =>
                try {
                  val n = f(current, df)
                  n.select(r.check.condition)
                  Some(n)
                } catch {
                  case ae: org.apache.spark.sql.AnalysisException =>
                    // the fallback costs super-linear plan growth when many
                    // such checks stack — tell the user WHY (VERDICT r11: a
                    // row_filter referencing a prior check's output column
                    // is the canonical trigger)
                    val reason = firstLine(ae.getMessage)
                    org.slf4j.LoggerFactory.getLogger(getClass).info(
                      s"check '${r.resolvedName}': base-rooted build failed analysis " +
                        s"($reason); falling back to the chained frame — plans stacking " +
                        "many such checks grow super-linearly (see ExtraParams.autoFencePlanNodes)")
                    extra.onBaseFallback.foreach(_(r.resolvedName, reason))
                    None
                }
              }.getOrElse(r.check.applyFn(current))
          }
          next.select(r.check.condition) // force analysis of the condition
          r.messageExpr.foreach(me => next.select(expr(me)))
          next
        } match {
          case Success(next) =>
            current = next
            appliedDatasetChecks += 1
            if (!r.check.rowPreserving) {
              // zero-cost first: parity decidable from the plan shape the
              // apply picked for THIS input (per check, never memoized —
              // same ref, different input schema may pick another path)
              val staticVerdict: Option[Boolean] = r.check.rowParityStatic
                .flatMap(f => Try(f(appliedTo)).toOption.flatten)
              staticVerdict match {
                case Some(true) => () // provably preserved rows, no probe
                case Some(false) => baseRowParity = false
                case None => r.check.rowPreservingProbe match {
                  // parity is data-dependent: defer the probe action until a
                  // later check actually asks for the pristine base, so
                  // suites that never do (or where this check is last) pay
                  // nothing
                  case Some(p) =>
                    pendingParityProbes ::= ((r.resolvedName, r.check.rowPreservingProbeKey, p))
                  case None => baseRowParity = false
                }
              }
            }
            maybeCheckpoint()
            r.check.infoColName.foreach(infoCols += _)
            Compiled(r, r.check.condition, None)
          case Failure(e: org.apache.spark.sql.AnalysisException) =>
            Compiled(r, lit(null).cast("string"), Some(s"Check skipped: ${firstLine(e.getMessage)}"))
          case Failure(e) => throw e
        }
    }

    // Each active rule's condition (message-or-null) materializes EXACTLY once,
    // in its own projection and its own generated method; the result
    // projection below references only these attributes. CollapseProject
    // declines to re-inline a non-cheap alias referenced more than once, so
    // the check expressions never evaluate twice — inlining them directly
    // into the result structs measured ~2x on a 24-check suite (guard +
    // message both re-evaluate the check).
    val condCols: Seq[Option[String]] = compiled.zipWithIndex.map { case (c, i) =>
      if (c.skipped.isEmpty) Some(s"__dq_cond_$i") else None
    }
    val withConds = {
      val adds = compiled.zip(condCols).collect { case (c, Some(n)) => OwnMethod(c.condition).as(n) }
      if (adds.isEmpty) current else current.select(col("*") +: adds: _*)
    }

    // One ResultArray per result column: only the guards, the messages and
    // run_time are per-row children; everything fixed for the run is one
    // reference object, so the generated code is run-invariant and small.
    def resultArray(cs: Seq[(Compiled, Option[String])]): Column = {
      val kept = cs.filter { case (c, _) => c.skipped.isEmpty || !extra.suppressSkipped }
      val entries = kept.map { case (c, _) =>
        val r = c.rule
        ResultEntry(r.resolvedName, r.columns, r.filter, r.function,
          (extra.userMetadata ++ r.userMetadata).toSeq, r.fingerprint, c.skipped)
      }
      val active = kept.collect { case (c, Some(n)) => (c.rule, col(n)) }
      ResultArray(ResultLayout(entries, runId, ruleSetFp),
        active.map { case (r, c) => r.filter.map(f => expr(f) && c.isNotNull).getOrElse(c.isNotNull) },
        // a custom message expression replaces the default failure message,
        // capped at 500 chars (manager.py:247-274)
        active.map { case (r, c) => r.messageExpr.map(me => substring(expr(me), 1, 500)).getOrElse(c) },
        runTime)
    }

    val withNames = compiled.zip(condCols)
    val (errs, warns) = withNames.partition(_._1.rule.criticality == Criticality.Error)
    val names = extra.resultColumnNames
    // backtick-quote original names: col("a.b") would parse as field access
    def orig(name: String): Column = col("`" + name.replace("`", "``") + "`")

    // Merge per-check info columns into one `_dq_info` array; appended to a
    // pre-existing _dq_info column via concat (reporting_columns.py:22-52).
    // Element order = rule order. No info checks + no pre-existing column =>
    // no _dq_info at all.
    val destInfo = names.info
    val present = infoCols.toSeq.filter(current.columns.contains)
    val existing = if (originalCols.contains(destInfo)) Some(orig(destInfo)) else None
    val infoColumn: Option[Column] = (existing, present) match {
      case (None, Seq()) => None
      case (Some(e), Seq()) => None // passes through with original columns
      case (None, ps) => Some(array(ps.map(col): _*).as(destInfo))
      case (Some(e), ps) => Some(concat(e, array(ps.map(col): _*)).as(destInfo))
    }
    val baseCols =
      if (existing.isDefined && infoColumn.isDefined) originalCols.filterNot(_ == destInfo)
      else originalCols
    withConds.select(
      (baseCols.map(orig) :+
        resultArray(errs).as(names.errors) :+
        resultArray(warns).as(names.warnings)) ++ infoColumn.toSeq: _*)
  }

  /** Rebuild a metadata-built row rule with backtick-quoted column arguments
    * and re-probe — resolves checks on column names that need escaping
    * (manager.py:323-356). Only possible when the rule carries its metadata
    * arguments; rules built from raw Columns cannot be rebuilt.
    */
  private def quotedRetry(df: DataFrame, r: DQRowRule): Option[Column] = {
    val colKeys = Set("column", "columns", "column1", "column2")
    def quote(v: Any): Any = v match {
      case s: String if !s.startsWith("`") => s"`${s.replace("`", "``")}`"
      case xs: Seq[_] => xs.map(quote)
      case other => other
    }
    if (r.arguments.isEmpty || !r.arguments.keys.exists(colKeys)) None
    else {
      val qArgs = r.arguments.map { case (k, v) => k -> (if (colKeys(k)) quote(v) else v) }
      Try {
        CheckRegistry.resolve(r.function) match {
          case RowCheckFn(build) =>
            val c = build(CheckArgs(qArgs))
            df.select(c) // analysis-only resolution probe
            r.filter.foreach(f => df.select(expr(f)))
            r.messageExpr.foreach(me => df.select(expr(me)))
            c
          case _ => throw new IllegalStateException("not a row check")
        }
      }.toOption
    }
  }

  /** Plan-time analysis probe: None if the condition+filter resolve against df,
    * Some(reason) otherwise.
    */
  private def probe(df: DataFrame, cond: Column, filter: Option[String],
                    messageExpr: Option[String] = None): Option[String] =
    Try {
      df.select(cond)
      filter.foreach(f => df.select(expr(f)))
      messageExpr.foreach(me => df.select(expr(me))) // invalid custom message -> skip (manager.py:171-176)
    } match {
      case Success(_) => None
      case Failure(e: org.apache.spark.sql.AnalysisException) => Some(s"Check skipped: ${firstLine(e.getMessage)}")
      case Failure(e) => throw e
    }

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.next()).getOrElse("analysis error")

  /** Metadata entry point (engine.py:236): YAML/JSON-shaped check dicts ->
    * rules -> applyChecks. Reference DataFrames resolve by name.
    */
  def applyChecksByMetadata(df: DataFrame, checks: Seq[Map[String, Any]],
                            extra: ExtraParams = ExtraParams(),
                            refDfs: Map[String, DataFrame] = Map.empty): DataFrame =
    applyChecks(df, ChecksSerializer.deserialize(checks, ResolveCtx(df.sparkSession, refDfs)), extra)

  /** As above, from a YAML (or JSON) document. */
  def applyChecksByMetadataYaml(df: DataFrame, yaml: String,
                                extra: ExtraParams = ExtraParams(),
                                refDfs: Map[String, DataFrame] = Map.empty): DataFrame =
    applyChecksByMetadata(df, ChecksSerializer.parseYaml(yaml), extra, refDfs)

  /** Good/bad quarantine split (engine.py:200-234, :345-372). Good rows have no
    * errors (warnings allowed) and drop the result columns; bad rows have
    * errors or warnings and keep them.
    */
  def applyChecksAndSplit(df: DataFrame, rules: Seq[DQRule],
                          extra: ExtraParams = ExtraParams()): (DataFrame, DataFrame) = {
    val checked = applyChecks(df, rules, extra)
    (getValid(checked, extra), getInvalid(checked, extra))
  }

  // Quarantine filters compute their keep-flag in a PROJECTION FIELD wrapped
  // in an OptimizerBarrier, then filter on the bare attribute. Filtering on
  // the result columns directly lets PushPredicateThroughNonJoin substitute
  // the whole check construction into a FilterExec (that rule only guards on
  // the project FIELDS' determinism, and FilterExec does no subexpression
  // elimination) — measured 2.2x suite cost. The nondeterministic-flagged
  // field stops the push; the checks evaluate once, in the projection.

  private def keepWhere(checked: DataFrame, flag: Column): DataFrame = {
    val keep = s"__dq_keep_${graft.core.CheckUtils.uniqueSuffix()}"
    checked.withColumn(keep, graft.core.OptimizerBarrier(flag))
      .where(col(keep)).drop(keep)
  }

  def getValid(checked: DataFrame, extra: ExtraParams = ExtraParams()): DataFrame = {
    val n = extra.resultColumnNames
    keepWhere(checked, col(n.errors).isNull).drop(n.errors, n.warnings)
  }

  def getInvalid(checked: DataFrame, extra: ExtraParams = ExtraParams()): DataFrame = {
    val n = extra.resultColumnNames
    keepWhere(checked, col(n.errors).isNotNull || col(n.warnings).isNotNull)
  }

  /** Attach an Observation computing input/error/warning/valid counts plus any
    * custom SQL aggregate expressions — zero extra pass (engine.py:621-658,
    * metrics_observer.py:86-147).
    */
  def observeMetrics(checked: DataFrame, observation: Observation,
                     extra: ExtraParams = ExtraParams(),
                     customMetrics: Seq[String] = Seq.empty,
                     checkNames: Seq[String] = Seq.empty): DataFrame = {
    val n = extra.resultColumnNames
    val base = Seq(
      count(lit(1)).as("input_row_count"),
      count(when(col(n.errors).isNotNull, lit(1))).as("error_row_count"),
      count(when(col(n.warnings).isNotNull, lit(1))).as("warning_row_count"),
      count(when(col(n.errors).isNull && col(n.warnings).isNull, lit(1))).as("valid_row_count"))
    // per-check breakdown (metrics_observer.py:108-147) — one extra aggregate,
    // still zero extra passes
    val breakdown =
      if (checkNames.nonEmpty)
        Seq(expr(graft.metrics.Metrics.checkMetricsExpr(checkNames, extra)).as("check_metrics"))
      else Seq.empty
    val custom = customMetrics.map(expr)
    checked.observe(observation, base.head, (base.tail ++ breakdown ++ custom): _*)
  }
}
