package graft.checks

import graft.core.CheckUtils._
import graft.core.HoistedConstant
import graft.rules.DatasetCheck
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Dataset-level checks (SURVEY §2.2): each returns a [[DatasetCheck]] whose
  * `applyFn` adds hidden metric columns (windows/joins/aggregations) and whose
  * `condition` (message-or-null) reads them. Temp columns carry a UUID suffix
  * so checks compose; the engine's final projection drops them.
  *
  * Scale notes (100 TB targets):
  *  - global aggregates go through `select(agg).limit(1)` + broadcast crossJoin,
  *    never `Window.partitionBy()` with no keys (single-partition collapse) —
  *    matching the reference's deliberate choice (check_funcs.py:4361-4373);
  *  - grouped aggregates use one window shuffle when the aggregate is
  *    window-compatible, two-stage groupBy+join only for DISTINCT aggregates
  *    (check_funcs.py:4338-4356);
  *  - FK joins dedup the reference side first so Catalyst/AQE can broadcast it
  *    (check_funcs.py:2005).
  */
object DatasetChecks {

  // ---------------------------------------------------------------- is_unique

  /** D2 (check_funcs.py:1822): duplicate detection over a (composite) key.
    * `nullsDistinct`: rows with any NULL key component never count as
    * duplicates (SQL UNIQUE NULLS DISTINCT semantics).
    *
    * Scale shape (`strategy`, default "auto" = "window"):
    *  - "window": the reference's own plan (check_funcs.py:1874) — a
    *    per-key window count: ONE full-width sort-shuffle per check,
    *    nothing else.
    *  - "probe": the verdict depends only on the KEY VALUE and its count,
    *    so (1) groupBy(key).count on the filtered frame — a SLIM shuffle
    *    with map-side partial aggregation; (2) keep only count>1 keys (the
    *    dup-key set, distinct by construction); (3) attach the count back
    *    by key with a SHUFFLE_HASH build on the dup-key side (AQE upgrades
    *    to broadcast when duplicates are sparse). Count-parity unchanged:
    *    the join-back is row-preserving on a distinct build side, so an
    *    unread verdict eliminates the whole probe subtree.
    *  - "auto": "window". The r11 UniqueProbe A/B (10M@8g + 100M@96g
    *    isolated cells) measured: probe wins only the no-spill dense
    *    mid-size regime (8.3 s vs 12.5 s at 10M); window wins sparse
    *    mostly-unique keys at 10M (7.8 s vs 14.8 s — the dup aggregation
    *    is a full-cardinality slim shuffle that buys nothing) AND the
    *    dense 100M spill regime (304 s vs 339 s — the probe pays the
    *    full-width join-back shuffle PLUS the agg shuffle PLUS a frame
    *    recompute, which together outweigh the saved sort). Unlike
    *    foreign_key — where the probe replaced an unbroadcastable
    *    full-width SMJ and won 2x — is_unique's window baseline is
    *    already a single exchange, so the probe has no structural edge to
    *    exploit. Kept as an explicit option for mid-size dense-duplicate
    *    workloads.
    */
  def isUnique(columns: Seq[String], nullsDistinct: Boolean = true,
               rowFilter: Option[String] = None,
               strategy: String = "auto"): DatasetCheck = {
    require(Set("auto", "window", "probe").contains(strategy),
      s"is_unique strategy must be auto|window|probe, got '$strategy'")
    val id = uniqueSuffix()
    val cntCol = s"__dq_unique_count_$id"
    val filterC = rowFilter.map(expr).getOrElse(lit(true))
    val keyCols = columns.map(col)
    val keysNotNull = keyCols.map(_.isNotNull).reduce(_ && _)

    def windowPlan(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(keyCols: _*)
      df.withColumn(cntCol, sum(when(filterC, lit(1)).otherwise(lit(0))).over(w))
    }

    def probePlan(df: DataFrame, aggSource: DataFrame): DataFrame = {
      val dupRenamed = columns.map(c => s"__dq_unique_k_${c}_$id")
      // nullsDistinct: null-key rows can never flag, so drop them before the
      // aggregation; otherwise nulls group together (one dup group per the
      // window plan's hash partitioning of nulls)
      val base0 = aggSource.where(filterC)
      val base = if (nullsDistinct) base0.where(keysNotNull) else base0
      val dups = base
        .groupBy(columns.zip(dupRenamed).map { case (c, nn) => col(c).as(nn) }: _*)
        .agg(count(lit(1)).as(cntCol))
        .where(col(cntCol) > 1)
      val backCond =
        if (nullsDistinct) equalityJoinCondition(keyCols, dupRenamed.map(col))
        else nullSafeJoinCondition(keyCols, dupRenamed.map(col))
      df.join(dups.hint("SHUFFLE_HASH"), backCond, "left").drop(dupRenamed: _*)
    }

    val applyFn = (df: DataFrame) => strategy match {
      case "probe" => probePlan(df, df)
      case _       => windowPlan(df)
    }
    // engine path: aggregate over the pristine frame so stacked probes grow
    // the plan linearly instead of doubling it (DatasetCheck scaladoc)
    val applyWithBase: Option[(DataFrame, DataFrame) => DataFrame] =
      if (strategy == "probe") Some((df, base) => probePlan(df, base)) else None
    // probe join-back leaves cntCol null on unique keys — same verdict as the
    // window's literal count because the flag needs > 1
    val dupCond = coalesce(col(cntCol), lit(0L)) > 1 && filterC &&
      (if (nullsDistinct) keysNotNull else lit(true))
    val keyText = concat_ws(", ", keyCols.map(valueText): _*)
    DatasetCheck(applyFn,
      makeCondition(dupCond,
        concat(lit(s"Value '"), keyText,
          lit(s"' in column '${columns.mkString(", ")}' is not unique, found "),
          col(cntCol).cast("string"), lit(" duplicates"))),
      applyWithBase = applyWithBase)
  }

  // -------------------------------------------------------------- foreign_key

  /** "10MB"/"10485760"-style conf values -> bytes (Spark's own grammar);
    * "-1" (threshold disabled) is a plain long JavaUtils rejects.
    */
  private def parseByteSize(s: String): Long =
    scala.util.Try(s.trim.toLong).getOrElse(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s))

  /** D3 (check_funcs.py:1919): FK existence against a reference dataset.
    * Reference side is deduped before the join (broadcast-friendly).
    * `negate`: key must NOT exist in the reference.
    *
    * Scale shape (`strategy`, default "auto"):
    *  - "broadcast": the reference's own plan — dedup the ref and left-join
    *    it onto the checked frame — with an explicit broadcast hint. Optimal
    *    when the deduped ref fits an executor; the checked frame never
    *    shuffles.
    *  - "probe": slim keys-probe for UNBROADCASTABLE refs. The verdict
    *    depends only on the KEY VALUE, so: (1) distinct the checked frame's
    *    keys (a slim shuffle with map-side partial agg — bytes ~ key width,
    *    not row width); (2) anti-join (semi for negate) those against the
    *    deduped ref — both sides slim; (3) attach the violating-key marker
    *    back by key with a SHUFFLE_HASH build on the (distinct, hence
    *    non-multiplying) marker side. Sparse violations — the steady-state
    *    DQ case — leave the marker side tiny, AQE upgrades the join-back to
    *    broadcast, and the full-width frame NEVER shuffles; dense
    *    violations degrade to one full-width hash-join shuffle WITHOUT the
    *    sort a sort-merge join would pay.
    *  - "join": the pre-r10 shape (plain left join, planner's choice) kept
    *    for A/B comparison.
    *  - "auto": "broadcast" when Catalyst's size estimate of the ref is
    *    within autoBroadcastJoinThreshold (10MB default when the conf is
    *    unset), else "probe". A threshold the user explicitly DISABLED
    *    (<= 0) always picks "probe" — never an overriding broadcast hint.
    */
  def foreignKey(columns: Seq[String], refColumns: Seq[String], refDf: DataFrame,
                 negate: Boolean = false, nullSafe: Boolean = false,
                 rowFilter: Option[String] = None,
                 strategy: String = "auto"): DatasetCheck = {
    require(columns.length == refColumns.length, "columns and ref_columns must align")
    require(Set("auto", "broadcast", "probe", "join").contains(strategy),
      s"unknown foreign_key strategy: $strategy")
    val id = uniqueSuffix()
    val matchedCol = s"__dq_fk_matched_$id"
    val filterC = rowFilter.map(expr).getOrElse(lit(true))
    val keyCols = columns.map(col)
    def applyImpl(df: DataFrame, aggSource: DataFrame): DataFrame = {
      val renamedRef = refColumns.map(rc => s"__dq_fk_ref_${rc}_$id")
      val marker = s"__dq_fk_present_$id"
      // explicit presence marker: ref-key nullness cannot indicate a match
      // under null_safe (a NULL ref key is a legitimate match target)
      val refDeduped = refDf.select(refColumns.zip(renamedRef).map { case (rc, nn) => col(rc).as(nn) }: _*)
        .distinct()
      val joinCond =
        if (nullSafe) nullSafeJoinCondition(keyCols, renamedRef.map(col))
        else equalityJoinCondition(keyCols, renamedRef.map(col)) && keyCols.map(_.isNotNull).reduce(_ && _)

      def directJoin(hintBroadcast: Boolean): DataFrame = {
        val marked = refDeduped.withColumn(marker, lit(true))
        val ref = if (hintBroadcast) broadcast(marked) else marked
        df.join(ref, joinCond, "left")
          .withColumn(matchedCol, coalesce(col(marker), lit(false)))
          .drop((renamedRef :+ marker): _*)
      }

      def keysProbe(): DataFrame = {
        // probe only keys that can violate: filtered rows and (non-null-safe)
        // complete keys — null components can't fail the check anyway
        val probeFilter =
          if (nullSafe) filterC else filterC && keyCols.map(_.isNotNull).reduce(_ && _)
        // keys come from the pristine frame when the engine provides it:
        // stacked probes otherwise double the plan per check (see
        // DatasetCheck.applyWithBase scaladoc)
        val probe = aggSource.where(probeFilter).select(keyCols: _*).distinct()
        // violating keys: absent from ref (present, for negate) — both sides
        // of this join are slim key sets
        val probeCond =
          if (nullSafe) nullSafeJoinCondition(columns.map(probe(_)), renamedRef.map(col))
          else equalityJoinCondition(columns.map(probe(_)), renamedRef.map(col))
        val violKeys = probe.join(refDeduped, probeCond, if (negate) "left_semi" else "left_anti")
        val violRenamed = columns.map(c => s"__dq_fk_v_${c}_$id")
        val violM = violKeys.select(columns.zip(violRenamed).map { case (c, nn) => col(c).as(nn) }: _*)
          .withColumn(marker, lit(true))
        val backCond =
          if (nullSafe) nullSafeJoinCondition(keyCols, violRenamed.map(col))
          else equalityJoinCondition(keyCols, violRenamed.map(col))
        // SHUFFLE_HASH build on the distinct marker side: no sort of the
        // full-width stream; AQE converts to broadcast when violations are few
        df.join(violM.hint("SHUFFLE_HASH"), backCond, "left")
          .withColumn(matchedCol,
            // marker present == violating key; matched is its inverse in the
            // normal mode and its image in negate mode
            if (negate) coalesce(col(marker), lit(false))
            else !coalesce(col(marker), lit(false)))
          .drop((violRenamed :+ marker): _*)
      }

      strategy match {
        case "join" => directJoin(hintBroadcast = false)
        case "broadcast" => directJoin(hintBroadcast = true)
        case "probe" => keysProbe()
        case _ => // auto
          // a user-disabled threshold (<= 0) is a deliberate "no broadcast
          // joins" decision — honor it with the probe instead of forcing a
          // broadcast hint (ADVICE r10 #2); an unset conf keeps the 10MB
          // Spark default
          val threshold = scala.util.Try(
            df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")).toOption
            .map(parseByteSize).getOrElse(10L * 1024 * 1024)
          val refSize = scala.util.Try(
            refDf.queryExecution.optimizedPlan.stats.sizeInBytes).toOption
            .getOrElse(BigInt(Long.MaxValue))
          if (threshold > 0 && refSize <= threshold) directJoin(hintBroadcast = true)
          else keysProbe()
      }
    }
    val keysPresent = if (nullSafe) lit(true) else keyCols.map(_.isNotNull).reduce(_ && _)
    val violation =
      if (negate) filterC && keysPresent && col(matchedCol)
      else filterC && keysPresent && !col(matchedCol)
    val keyText = concat_ws(", ", keyCols.map(valueText): _*)
    DatasetCheck(df => applyImpl(df, df),
      makeCondition(violation,
        concat(lit(s"Value '"), keyText, lit(s"' in column '${columns.mkString(", ")}' "),
          lit(if (negate) "found in reference" else "not found in reference"))),
      applyWithBase = Some((df, base) => applyImpl(df, base)))
  }

  // --------------------------------------------------- aggregate compare core

  sealed abstract class AggrOp(val text: String)
  object AggrOp {
    case object NotGreaterThan extends AggrOp("greater than")
    case object NotLessThan extends AggrOp("less than")
    case object Equal extends AggrOp("not equal to")
    case object NotEqual extends AggrOp("equal to")
  }

  /** Aggregates that cannot run as window functions (check_funcs.py:78-81). */
  private val windowIncompatible = Set("count_distinct")

  /** Curated aggregate registry (check_funcs.py:52-73) + by-name fallback via
    * `expr` for any other Spark SQL aggregate.
    */
  def buildAggrExpr(aggrType: String, c: Column, isStar: Boolean, params: Map[String, Any] = Map.empty): Column =
    aggrType match {
      case "count" => if (isStar) count(lit(1)) else count(c)
      case "sum" => sum(c)
      case "avg" | "mean" => avg(c)
      case "min" => min(c)
      case "max" => max(c)
      case "count_distinct" => countDistinct(c)
      case "approx_count_distinct" => approx_count_distinct(c)
      case "count_if" => count(when(c, lit(1)))
      case "stddev" | "stddev_samp" => stddev(c)
      case "stddev_pop" => stddev_pop(c)
      case "variance" | "var_samp" => var_samp(c)
      case "var_pop" => var_pop(c)
      case "median" => median(c)
      case "mode" => mode(c)
      case "skewness" => skewness(c)
      case "kurtosis" => kurtosis(c)
      case "percentile" =>
        percentile(c, lit(params.getOrElse("percentile", 0.5).toString.toDouble))
      case "approx_percentile" =>
        percentile_approx(c, lit(params.getOrElse("percentile", 0.5).toString.toDouble), lit(10000))
      case other =>
        // non-curated by-name fallback (check_funcs.py:4101). The rendered
        // SQL must PARSE before it hits the analyzer: a complex input column
        // whose toString isn't valid SQL (e.g. a resolved lambda) would
        // otherwise surface as an opaque ParseException deep in the engine's
        // skip-don't-fail probe
        val rendered = s"$other(${c.toString})"
        scala.util.Try(
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(rendered)
        ) match {
          case scala.util.Success(_) => expr(rendered)
          case scala.util.Failure(e) => throw new IllegalArgumentException(
            s"aggregate function '$other' is not in the curated registry and its by-name SQL " +
              s"rendering '$rendered' does not parse (${e.getMessage.linesIterator.next()}); " +
              "use a curated aggregate or a plain column reference", e)
        }
    }

  /** Shared machinery for D5-D8 (check_funcs.py:4234-4403). Adds a metric
    * column holding the aggregate (global or per-group), then compares it to
    * `limit` with the given op. The engine-visible failure is row-level: every
    * row of an offending group carries the message.
    */
  def aggrCompare(column: String, aggrType: String, limit: Any, op: AggrOp,
                  groupBy: Seq[String] = Seq.empty, rowFilter: Option[String] = None,
                  absTolerance: Double = 0.0, relTolerance: Double = 0.0,
                  aggrParams: Map[String, Any] = Map.empty): DatasetCheck = {
    val id = uniqueSuffix()
    val metricCol = s"__dq_aggr_$id"
    val isStar = column == "*"
    val baseCol = if (isStar) lit(1) else col(column)
    val filterC = rowFilter.map(expr)
    // Filter folded INTO the aggregate (conditional aggregation), preserving
    // row-level granularity (check_funcs.py:4324-4333).
    val aggInput = filterC match {
      case Some(f) if aggrType == "count" && isStar => when(f, lit(1))
      case Some(f) if aggrType == "count_if" => f && baseCol
      case Some(f) => when(f, baseCol)
      case None if aggrType == "count" && isStar => baseCol
      case None => baseCol
    }
    val aggExpr = buildAggrExpr(aggrType, aggInput,
      isStar = isStar && filterC.isEmpty, params = aggrParams)

    // aggSource: the frame the aggregate branch reads — the engine passes
    // the PRISTINE input so stacked checks grow the plan linearly (window
    // strategy has no second branch, so it ignores it); df is what the
    // metric attaches to (DatasetCheck.applyWithBase scaladoc)
    def applyImpl(df: DataFrame, aggSource: DataFrame): DataFrame = {
      if (groupBy.nonEmpty && !windowIncompatible.contains(aggrType)) {
        df.withColumn(metricCol, aggExpr.over(Window.partitionBy(groupBy.map(col): _*)))
      } else if (groupBy.nonEmpty) {
        // two-stage groupBy + join back (DISTINCT aggregates). The aggregate
        // groups by ONE struct key and the join is a plain === on it: struct
        // comparison is null-safe per field (same semantics as a <=> chain),
        // the condition is never-null, and the join key is exactly the
        // aggregate's unique grouping attribute — so when the metric goes
        // unread (e.g. a bare count() action) Catalyst can prove the left
        // join row-preserving and eliminate it, which a <=> chain defeats.
        val kr = s"__dq_grpk_${id}_r"
        val kl = s"__dq_grpk_${id}_l"
        val aggDf = aggSource.groupBy(struct(groupBy.map(col): _*).as(kr))
          .agg(aggExpr.as(metricCol))
        df.withColumn(kl, struct(groupBy.map(col): _*))
          .join(aggDf, col(kl) === col(kr), "left")
          .drop(kl, kr)
      } else {
        // global scalar: 1-row aggregate broadcast via crossJoin
        val aggDf = aggSource.select(aggExpr.as(metricCol)).limit(1)
        df.crossJoin(broadcast(aggDf))
      }
    }

    val limitC = limitExpr(limit)
    val m = col(metricCol)
    val tolBand = lit(absTolerance) + lit(relTolerance) * abs(limitC)
    val failCond = op match {
      case AggrOp.NotGreaterThan => m > limitC
      case AggrOp.NotLessThan => m < limitC
      case AggrOp.Equal => // must equal limit (within tolerance); fail when outside
        if (absTolerance > 0 || relTolerance > 0) abs(m - limitC) > tolBand
        else !(m <=> limitC)
      case AggrOp.NotEqual => // must differ from limit; fail when (approximately) equal
        if (absTolerance > 0 || relTolerance > 0) abs(m - limitC) <= tolBand
        else m <=> limitC
    }
    val groupText = if (groupBy.isEmpty) lit("")
      else concat(lit(" per group of "), concat_ws(", ", groupBy.map(g => valueText(col(g))): _*))
    DatasetCheck(df => applyImpl(df, df),
      makeCondition(failCond,
        concat(lit(s"$aggrType(${column})"), groupText, lit(s" value "),
          valueText(m), lit(s" is ${op.text} limit ${limitText(limit)}"))),
      applyWithBase = Some((df, base) => applyImpl(df, base)))
  }

  /** D5 (check_funcs.py:2179) */
  def isAggrNotGreaterThan(column: String, limit: Any, aggrType: String = "count",
                           groupBy: Seq[String] = Seq.empty, rowFilter: Option[String] = None,
                           aggrParams: Map[String, Any] = Map.empty): DatasetCheck =
    aggrCompare(column, aggrType, limit, AggrOp.NotGreaterThan, groupBy, rowFilter, aggrParams = aggrParams)

  /** D6 (check_funcs.py:2224) */
  def isAggrNotLessThan(column: String, limit: Any, aggrType: String = "count",
                        groupBy: Seq[String] = Seq.empty, rowFilter: Option[String] = None,
                        aggrParams: Map[String, Any] = Map.empty): DatasetCheck =
    aggrCompare(column, aggrType, limit, AggrOp.NotLessThan, groupBy, rowFilter, aggrParams = aggrParams)

  /** D7 (check_funcs.py:2269) */
  def isAggrEqual(column: String, limit: Any, aggrType: String = "count",
                  groupBy: Seq[String] = Seq.empty, rowFilter: Option[String] = None,
                  absTolerance: Double = 0.0, relTolerance: Double = 0.0): DatasetCheck =
    aggrCompare(column, aggrType, limit, AggrOp.Equal, groupBy, rowFilter, absTolerance, relTolerance)

  /** D8 (check_funcs.py:2320) */
  def isAggrNotEqual(column: String, limit: Any, aggrType: String = "count",
                     groupBy: Seq[String] = Seq.empty, rowFilter: Option[String] = None,
                     absTolerance: Double = 0.0, relTolerance: Double = 0.0): DatasetCheck =
    aggrCompare(column, aggrType, limit, AggrOp.NotEqual, groupBy, rowFilter, absTolerance, relTolerance)

  // ---------------------------------------------------------- aggr outliers

  /** D9 (check_funcs.py:2374): time-series sigma-band anomaly on a per-bucket
    * aggregate. Buckets the time column to `timeInterval` grains, aggregates
    * per (groupBy, grain), compares each bucket to the rolling mean/stddev of
    * the previous `lookback` buckets, flags |cur-mean| > sigma*stddev. Rows of
    * the offending bucket fail. `warmup` buckets are required before flagging.
    *
    * Scale shape: with no `group_by` the rolling band runs through
    * [[withPartitionedOrderedWindow]] — range-partitioned, boundary-repaired,
    * fully parallel over the slim per-grain frame (one row per time grain).
    * The reference runs the same frame through a single-partition window
    * (check_funcs.py:2374); this shape removes that collapse, so multi-year
    * minute-grain series rank across all executors.
    */
  def hasNoAggrOutliers(column: String, timeColumn: String, aggrType: String = "count",
                        sigma: Double = 3.0, lookback: Int = 10, warmup: Int = 3,
                        timeInterval: String = "1 day", groupBy: Seq[String] = Seq.empty,
                        rowFilter: Option[String] = None,
                        broadcastFlags: Option[Boolean] = None): DatasetCheck = {
    val id = uniqueSuffix()
    val grainCol = s"__dq_grain_$id"
    val outlierCol = s"__dq_outlier_$id"
    val curCol = s"__dq_cur_$id"
    val meanCol = s"__dq_mean_$id"
    val isStar = column == "*"
    val filterC = rowFilter.map(expr)
    val aggInput = (filterC, isStar) match {
      case (Some(f), true) => when(f, lit(1))
      case (Some(f), false) => when(f, col(column))
      case (None, true) => lit(1)
      case (None, false) => col(column)
    }
    val aggExpr = buildAggrExpr(aggrType, aggInput, isStar = isStar && filterC.isEmpty)
    // Null timestamps coalesce to a 1900 sentinel bucket (the D12 pattern):
    // window() otherwise injects an isnotnull(ts) filter that silently DROPS
    // null-ts rows from the checked output, and a non-null grain lets the
    // join-back use plain equality — which Catalyst can prove row-preserving
    // against the aggregated flags side and eliminate when nothing reads it.
    val tsSafe = coalesce(col(timeColumn), lit("1900-01-01 00:00:00").cast("timestamp"))
    val grain = window(tsSafe, timeInterval).getField("start")

    def applyImpl(df: DataFrame, aggSource: DataFrame): DataFrame = {
      // materialize the grain: window() only resolves inside Project/Aggregate,
      // not in join conditions. The flags branch buckets aggSource — the
      // engine's pristine frame — so stacked checks stay linear
      // (DatasetCheck.applyWithBase scaladoc).
      val withGrain = df.withColumn(grainCol, grain)
      val bucketed = aggSource.withColumn(grainCol, grain)
        .groupBy((groupBy.map(col) :+ col(grainCol)): _*)
        .agg(aggExpr.as(curCol))
      def addStats(f: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
        val wPrev = w.rowsBetween(-lookback, -1)
        f.withColumn(meanCol, avg(col(curCol)).over(wPrev))
          .withColumn(s"__dq_std_$id", stddev_pop(col(curCol)).over(wPrev))
          .withColumn(s"__dq_n_$id", count(col(curCol)).over(wPrev))
          .withColumn(outlierCol,
            col(s"__dq_n_$id") >= warmup && col(s"__dq_std_$id").isNotNull &&
              abs(col(curCol) - col(meanCol)) > lit(sigma) * col(s"__dq_std_$id"))
      }
      // grouped: the rolling band rides one hash-partitioned window. With no
      // group_by the equivalent global window would collapse the (already
      // slim, per-grain) frame into ONE task — run it range-partitioned with
      // boundary repair instead, so a multi-year minute-grain series ranks in
      // parallel (VERDICT r11 next #2; the reference accepts the collapse,
      // check_funcs.py:2374).
      val stats =
        if (groupBy.nonEmpty)
          addStats(bucketed, Window.partitionBy(groupBy.map(col): _*).orderBy(col(grainCol)))
        else if (bucketed.isStreaming) // unreachable today (window-agg shapes gate earlier)
          addStats(bucketed, Window.orderBy(col(grainCol)))
        else withPartitionedOrderedWindow(bucketed, grainCol, lookback, 0,
          // coarse grain proves the frame small statically -> plain window
          // (VERDICT r13 next #2); fine grain keeps the partitioned shape
          numParts = orderedWindowPartsFor(intervalSecondsOf(timeInterval)))(addStats)
      val renamedGroups = groupBy.map(g => s"__dq_og_${g}_$id")
      val flagGrain = s"${grainCol}_f"
      val flags = stats.select(
        (groupBy.zip(renamedGroups).map { case (g, nn) => col(g).as(nn) } :+
          col(grainCol).as(flagGrain) :+ col(outlierCol) :+ col(curCol) :+ col(meanCol)): _*)
      // grain is non-null (sentinel) -> plain === ; group keys stay null-safe
      val grainEq = col(grainCol) === col(flagGrain)
      val joinCond =
        if (groupBy.isEmpty) grainEq
        else nullSafeJoinCondition(groupBy.map(col), renamedGroups.map(col)) && grainEq
      // flags has one row per (group, time bucket). With no groupBy its size is
      // bounded by the time range / interval, so broadcast explicitly (null-safe
      // join keys block static broadcast estimation — measured 2.7x suite cost).
      // With a high-cardinality groupBy a forced broadcast bypasses Spark's size
      // checks and can OOM; leave the hint off there and let AQE upgrade the
      // shuffle join to broadcast at runtime when the flags side is small.
      val buildSide =
        if (broadcastFlags.getOrElse(groupBy.isEmpty)) broadcast(flags) else flags
      withGrain.join(buildSide, joinCond, "left").drop((renamedGroups :+ flagGrain): _*)
    }
    DatasetCheck(df => applyImpl(df, df),
      makeCondition(coalesce(col(outlierCol), lit(false)),
        concat(lit(s"$aggrType(${column}) per $timeInterval value "), valueText(col(curCol)),
          lit(" is an outlier vs rolling mean "), valueText(col(meanCol)),
          lit(s" (sigma=$sigma)"))),
      applyWithBase = Some((df, base) => applyImpl(df, base)))
  }

  // ---------------------------------------------------- aggr_matches_dataset

  /** D10 (check_funcs.py:2610): aggregate of the input equals the same (or a
    * named) aggregate of a reference dataset, per group or global, with
    * tolerances. Null-safe compare: group missing on either side mismatches.
    */
  def aggrMatchesDataset(column: String, refDf: DataFrame, refColumn: String,
                         aggrType: String = "count", groupBy: Seq[String] = Seq.empty,
                         refGroupBy: Seq[String] = Seq.empty,
                         rowFilter: Option[String] = None, refRowFilter: Option[String] = None,
                         absTolerance: Double = 0.0, relTolerance: Double = 0.0): DatasetCheck = {
    val refGroups = if (refGroupBy.nonEmpty) refGroupBy else groupBy
    require(groupBy.length == refGroups.length, "group_by and ref_group_by must align")
    val id = uniqueSuffix()
    val metricCol = s"__dq_am_cur_$id"
    val refMetricCol = s"__dq_am_ref_$id"
    def aggOf(colName: String, filter: Option[String]): Column = {
      val isStar = colName == "*"
      val base = if (isStar) lit(1) else col(colName)
      val in = filter.map(f => when(expr(f), base)).getOrElse(base)
      buildAggrExpr(aggrType, in, isStar = isStar && filter.isEmpty)
    }
    // the scalar branch aggregates the checked frame itself — the engine
    // passes the pristine input as aggSource so stacked checks stay linear
    // (DatasetCheck.applyWithBase scaladoc); the grouped branch's current
    // metric is a window (no second branch over df)
    def applyImpl(df: DataFrame, aggSource: DataFrame): DataFrame = {
      if (groupBy.nonEmpty) {
        // struct-key === join-back (null-safe per field, join-eliminable when
        // the metric goes unread — see aggrCompare)
        val kr = s"__dq_amgk_${id}_r"
        val kl = s"__dq_amgk_${id}_l"
        val refAgg = refDf.groupBy(struct(refGroups.map(col): _*).as(kr))
          .agg(aggOf(refColumn, refRowFilter).as(refMetricCol))
        val cur = df.withColumn(metricCol,
          aggOf(column, rowFilter).over(Window.partitionBy(groupBy.map(col): _*)))
        cur.withColumn(kl, struct(groupBy.map(col): _*))
          .join(refAgg, col(kl) === col(kr), "left")
          .drop(kl, kr)
      } else {
        val refAgg = refDf.select(aggOf(refColumn, refRowFilter).as(refMetricCol)).limit(1)
        val curAgg = aggSource.select(aggOf(column, rowFilter).as(metricCol)).limit(1)
        df.crossJoin(broadcast(curAgg)).crossJoin(broadcast(refAgg))
      }
    }
    val m = col(metricCol); val r = col(refMetricCol)
    val tolBand = lit(absTolerance) + lit(relTolerance) * abs(r)
    val mismatch =
      if (absTolerance > 0 || relTolerance > 0)
        (m.isNull =!= r.isNull) || abs(m - r) > tolBand
      else !(m <=> r)
    DatasetCheck(df => applyImpl(df, df),
      makeCondition(mismatch,
        concat(lit(s"$aggrType(${column}) value "), valueText(m),
          lit(s" does not match reference $aggrType(${refColumn}) value "), valueText(r))),
      applyWithBase = Some((df, base) => applyImpl(df, base)))
  }

  // -------------------------------------------------------- compare_datasets

  /** D11 (check_funcs.py:2785): full dataset diff keyed on `columns` /
    * `refColumns`: missing rows (in ref, not in input — only when
    * `checkMissingRecords`, which switches to a full-outer join and APPENDS
    * those rows), extra rows (in input, not in ref), and per-column value
    * changes with numeric tolerance. Map-type columns are skipped.
    *
    * `hashPrefilter=true` (default) behavior notes vs the reference's single
    * lazy wide join:
    *  - the candidate pass evaluates the input an extra time and collects
    *    candidates EAGERLY at apply time. CONTRACT for non-deterministic
    *    inputs (rand-derived columns, files changing mid-run): the two passes
    *    may see DIFFERENT rows, so the flags can disagree with the rows they
    *    annotate. Pass `cacheInput=true` (localCheckpoint — materializes the
    *    input once, both passes and the returned frame read the snapshot), or
    *    cache/checkpoint upstream, or set `hashPrefilter=false`;
    *  - in presence mode (no shared value columns), ref rows fully
    *    duplicated on the key columns no longer multiply matching input rows;
    *  - the candidate collect is capped at `maxCollectedDiffs` rows AND
    *    `maxPrefilterBytes` of estimated ref-detail width, whichever is
    *    smaller; past the cap it falls back to the wide join;
    *  - inputs whose partition count is far below the cluster's parallelism
    *    (a re-read of a coalesced write, a small-file table) are repartitioned
    *    to `defaultParallelism` before hashing — both prefilter passes
    *    otherwise run at input granularity and starve the executors. Gated on
    *    estimated size too ([[shouldWiden]]): small frames skip the
    *    repartition shuffle, which would cost more than the parallelism buys.
    */
  /** Minimum estimated bytes per EXISTING partition before the prefilter
    * widens a narrow input to cluster parallelism. Below this, each task
    * already finishes quickly and the extra repartition shuffle dominates
    * (measured at sf0.1: widening 10x1.4 GB-estimate partitions cost ~2x on
    * the whole compare; at 100M the same gate passes and widening wins 3.5x).
    */
  private[graft] val WidenMinPartitionBytes: Long = 256L * 1024 * 1024

  /** Minimum estimated ROWS per existing partition before widening pays for
    * per-row-heavy map work (hash computation, partial aggregation). The byte
    * floor alone mis-gates narrow schemas: the 100M-row 3-int-column ref
    * fixture estimates ~100 MB/partition (under the byte floor) yet its
    * starved partial agg costs 2x the whole presence compare — measured
    * 152.5 s -> 78.6 s at 100M when the agg side widens (CompareProbe).
    */
  private[graft] val WidenMinPartitionRows: Long = 2L * 1000 * 1000

  /** Pure widen decision (package-private for the spec): narrow relative to
    * the cluster AND carrying real per-partition bulk — by bytes, or by
    * estimated rows when the caller passes a row-size estimate (per-row-heavy
    * map work scales with rows, not bytes).
    */
  private[graft] def shouldWiden(sizeInBytes: BigInt, partitions: Int, par: Int,
                                  minPartitionBytes: Long = WidenMinPartitionBytes,
                                  estRowSize: Long = Long.MaxValue,
                                  minPartitionRows: Long = WidenMinPartitionRows): Boolean =
    partitions > 0 && partitions * 2 < par &&
      (sizeInBytes / partitions > minPartitionBytes ||
        sizeInBytes / estRowSize / partitions > minPartitionRows)

  /** Repartition a partition-starved frame to cluster parallelism — when the
    * downstream map-side work above the bare scan (hash computation, partial
    * aggregation, broadcast probes) is worth parallelizing. Reads the
    * partition count WITHOUT triggering execution: under AQE, Dataset.rdd
    * materializes every upstream shuffle stage just to read a partition
    * count. Any plan node that requires a child distribution
    * (join/aggregate/window) means EnsureRequirements will insert exchanges —
    * such inputs come out of their shuffle at cluster width already, so
    * widening is moot AND the raw sparkPlan cannot be safely executed; skip.
    * Subquery expressions submit driver jobs on prepare; skip those too. What
    * remains is the actual starvation case: scan/project/filter-only inputs
    * (a re-read of a coalesced write, a small-file table), whose RDD lineage
    * builds lazily without running a single job.
    *
    * Do NOT widen frames whose map stage is only scan + shuffle-write (e.g.
    * the probe side of a shuffle join): the repartition repeats exactly that
    * work and adds a round trip — measured WORSE at 100M (152.5 s unwidened
    * vs 169.4 s both-sides-widened in the presence probe).
    */
  private def widenIfStarved(frame: DataFrame): DataFrame = {
    val spark = frame.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val plan = frame.queryExecution.sparkPlan
    val needsDistribution = plan.exists(_.requiredChildDistribution.exists {
      case org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution => false
      case _ => true
    })
    val hasSubquery = plan.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])))
    if (needsDistribution || hasSubquery) return frame
    val p = plan.execute().getNumPartitions
    val sizeBytes = frame.queryExecution.optimizedPlan.stats.sizeInBytes
    val estRowSize = (frame.schema.map(_.dataType.defaultSize).sum + 8).toLong
    if (shouldWiden(sizeBytes, p, par, WidenMinPartitionBytes, estRowSize))
      frame.repartition(par)
    else frame
  }

  def compareDatasets(columns: Seq[String], refColumns: Seq[String], refDf: DataFrame,
                      checkMissingRecords: Boolean = false,
                      excludeColumns: Seq[String] = Seq.empty,
                      nullSafeRowMatching: Boolean = true,
                      nullSafeColumnValueMatching: Boolean = true,
                      absTolerance: Double = 0.0, relTolerance: Double = 0.0,
                      hashPrefilter: Boolean = true,
                      maxCollectedDiffs: Int = 1000000,
                      maxPrefilterBytes: Long = 128L * 1024 * 1024,
                      cacheInput: Boolean = false,
                      refKeysUnique: Boolean = false): DatasetCheck = {
    require(columns.length == refColumns.length, "columns and ref_columns must align")
    val id = uniqueSuffix()
    val missingCol = s"__dq_cmp_missing_$id"
    val extraCol = s"__dq_cmp_extra_$id"
    val changedCol = s"__dq_cmp_changed_$id"
    // Shared by applyImpl's dispatch and the engine's rowParityStatic hook:
    // which columns a given input would value-compare by matching name, and
    // whether the dispatch lands on the presence path (which joins against
    // ref keys AGGREGATED to distinct — it cannot fan out and, being gated
    // on !checkMissingRecords, never appends marker rows).
    def comparedColsFor(d: DataFrame): Seq[String] = {
      val refNames = refDf.columns.toSet
      val skipTypes = refDf.schema.fields.filter(_.dataType.typeName == "map").map(_.name).toSet ++
        d.schema.fields.filter(_.dataType.typeName == "map").map(_.name).toSet
      d.columns.toSeq.filter(c => refNames.contains(c) &&
        !columns.contains(c) && !excludeColumns.contains(c) && !skipTypes.contains(c))
    }
    def keysAlignFor(d: DataFrame): Boolean =
      columns.zip(refColumns).forall { case (c, rc) => d.schema(c).dataType == refDf.schema(rc).dataType }
    def presencePathFor(d: DataFrame): Boolean =
      hashPrefilter && comparedColsFor(d).isEmpty && !checkMissingRecords &&
        nullSafeRowMatching && keysAlignFor(d)
    def applyImpl(df0: DataFrame, aggSource0: DataFrame): DataFrame = {
      // snapshot once so the eager candidate pass and the returned frame read
      // identical data even for non-deterministic inputs (see contract above)
      val df = if (cacheInput && !df0.isStreaming) df0.localCheckpoint() else df0
      // hash/candidate passes read aggSource (the engine's pristine frame
      // when chained after other checks): the keys and compared VALUE
      // columns are user columns prior checks never modify, so the hashes
      // and candidate sets are identical, and the eager collect re-executes
      // the raw input instead of the accumulated chain (DatasetCheck
      // .applyWithBase scaladoc). Under cacheInput the candidate pass MUST
      // read the snapshot itself (the contract above is about
      // non-deterministic inputs), so the base is ignored there.
      val aggSource = if (cacheInput || (df0 eq aggSource0)) df else aggSource0
      val refPrefix = s"__dq_ref_${id}_"
      // columns compared by matching name, minus keys and exclusions and maps
      val compared = comparedColsFor(df)
      // prune the ref side to keys + compared columns BEFORE the join: at scale
      // the shuffle carries only what the diff actually reads
      val refNeeded = (refColumns ++ compared).distinct
      val leftKeys = columns.map(col)
      val rightKeys = refColumns.map(c => col(refPrefix + c))
      val joinCond =
        if (nullSafeRowMatching) nullSafeJoinCondition(leftKeys, rightKeys)
        else equalityJoinCondition(leftKeys, rightKeys)
      val joinType = if (checkMissingRecords) "full_outer" else "left_outer"
      // present-markers: any key column non-null on that side
      val leftPresent = leftKeys.map(_.isNotNull).reduce(_ || _)
      val rightPresent = rightKeys.map(_.isNotNull).reduce(_ || _)
      def colDiff(c: String): Column = {
        val a = col(c); val b = col(refPrefix + c)
        val dt = df.schema(c).dataType
        val same = dt match {
          case _: org.apache.spark.sql.types.NumericType if absTolerance > 0 || relTolerance > 0 =>
            (a.isNull && b.isNull) ||
              (a.isNotNull && b.isNotNull &&
                abs(a.cast("double") - b.cast("double")) <= lit(absTolerance) + lit(relTolerance) * abs(b.cast("double")))
          case _ => if (nullSafeColumnValueMatching) a <=> b else a === b
        }
        !same
      }
      val changedMap =
        if (compared.isEmpty) lit(null).cast("map<string,string>")
        else map_filter(
          map(compared.flatMap(c => Seq(lit(c),
            when(colDiff(c), concat_ws(" -> ", valueText(col(c)), valueText(col(refPrefix + c))))
          )): _*),
          (_, v) => v.isNotNull)

      /** Wide path: one outer join carrying every compared column — the
        * reference's shape (check_funcs.py:2885). No join-strategy hint: a
        * forced SHUFFLE_HASH build is ~20% faster for ONE compare at 100M
        * rows, but several compare checks composed into one plan build their
        * hash maps simultaneously per task and OOM where sort-merge spills
        * gracefully — robustness wins at scale.
        */
      def wideApply(): DataFrame = {
        val ref = refDf.select(refNeeded.map(c => col(c).as(refPrefix + c)): _*)
        val joined = df.join(ref, joinCond, joinType)
        // Flags FIRST (they read the pre-coalesce left keys), then coalesce PKs so
        // downstream sees the key on appended missing rows (check_funcs.py:2941).
        val flagged = joined
          .withColumn(missingCol, !leftPresent && rightPresent)
          .withColumn(extraCol, leftPresent && !rightPresent)
          .withColumn(changedCol, when(leftPresent && rightPresent, changedMap))
        val keyFixed = columns.zip(refColumns).foldLeft(flagged) { case (d, (c, rc)) =>
          d.withColumn(c, coalesce(col(c), col(refPrefix + rc)))
        }
        keyFixed.drop(refDf.columns.map(refPrefix + _): _*)
      }

      /** Hash-prefilter path: at 100 TB the wide join shuffles both datasets
        * in full even when 0.01% of rows differ. Instead: (1) shuffle only
        * (keys, 128-bit row hash over null-tagged compared values) per side
        * and outer-join that; (2) collect the diff candidates (missing /
        * extra / hash-mismatch / duplicated ref key — a recall-complete
        * superset of every row the wide path would flag) up to
        * `maxCollectedDiffs`; (3) attach verdicts and exact per-column diffs
        * to the full frame via broadcast joins, so the wide rows never
        * shuffle. Hash equality standing in for value equality is the only
        * approximation (two independent 64-bit seeds; false-clean odds are
        * 2^-128 per pair). Value semantics (tolerances, null-safe modes) are
        * still decided by the exact expressions — the hash only selects
        * candidates. Falls back to the wide path when the candidate set
        * exceeds the cap (degenerate "everything changed" inputs).
        */
      def prefilterApply(): Option[DataFrame] = {
        val spark = df.sparkSession
        // Partition-starvation guard: the hash projections run in the INPUT's
        // map stage and the verdict-attach pass probes broadcasts over the raw
        // frame, so a 10-partition input caps both passes at 10 tasks no
        // matter how wide the cluster is. The reshuffle is cheap relative to
        // a 3.5x parallelism loss (measured at 100M on local[32]); skip it
        // when the input already saturates the cluster.
        val dfW = widenIfStarved(df)
        val slimSrcW = widenIfStarved(aggSource)
        val refW = widenIfStarved(refDf)
        val seed1 = 0x9E3779B97F4A7C15L
        val seed2 = 0xC2B2AE3D27D4EB4FL
        def pairHash(seed: Long): Column =
          xxhash64((lit(seed) +: compared.flatMap(c => Seq(col(c).isNull.cast("int"), col(c)))): _*)
        // NaN forces candidacy when a tolerance is set: NaN-vs-NaN hashes
        // EQUAL (identical bits) but the tolerance predicate `abs(a-b) <= tol`
        // is false for NaN, so the wide path flags the row as changed — any
        // row with a NaN on either side must reach the exact predicate.
        val nanCols =
          if (absTolerance > 0 || relTolerance > 0)
            compared.filter(c => df.schema(c).dataType match {
              case org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType => true
              case _ => false
            })
          else Seq.empty
        def anyNan(cs: Seq[String]): Column =
          cs.map(c => col(c).isNotNull && isnan(col(c))).reduceOption(_ || _).getOrElse(lit(false))
        val dfSlim = slimSrcW.select(columns.map(col) ++ Seq(
          pairHash(seed1).as("__l_h1"), pairHash(seed2).as("__l_h2"),
          anyNan(nanCols).as("__l_nan")): _*)
        val refSlim = refW.select(
          refColumns.map(c => col(c).as(refPrefix + c)) ++ Seq(
            pairHash(seed1).as("__r_h1"), pairHash(seed2).as("__r_h2"),
            anyNan(nanCols).as("__r_nan")): _*)
        // duplicated ref keys multiply output rows in the wide path; flag them
        // as candidates so the broadcast side keeps every copy (window reuses
        // the join shuffle's partitioning)
        val refCnt = refSlim.withColumn("__r_cnt",
          count(lit(1)).over(Window.partitionBy(rightKeys: _*)))
        val slim = dfSlim.join(refCnt, joinCond, joinType)
        val interesting = !leftPresent || !rightPresent ||
          col("__l_h1") =!= col("__r_h1") || col("__l_h2") =!= col("__r_h2") ||
          coalesce(col("__l_nan"), lit(false)) || coalesce(col("__r_nan"), lit(false)) ||
          coalesce(col("__r_cnt") > 1, lit(false))
        val slimDiff = slim.where(interesting).select(
          columns.map(col) ++ refColumns.map(c => col(refPrefix + c)) ++
            Seq(leftPresent.as("__lp"), rightPresent.as("__rp")): _*)
        // cap by rows AND by estimated bytes of the ref-detail side that the
        // candidate keys will pull into driver broadcasts: with wide rows a
        // row-only cap could exceed driver/executor memory long before 1M rows
        val refRowWidth = refDf.schema.fields
          .filter(f => refNeeded.contains(f.name)).map(_.dataType.defaultSize).sum.max(8)
        val capRows = math.min(maxCollectedDiffs.toLong,
          math.max(1L, maxPrefilterBytes / refRowWidth)).toInt
        val collected = slimDiff.limit(capRows + 1).collect()
        if (collected.length > capRows) None
        else Some {
          import scala.jdk.CollectionConverters._
          val k = columns.length
          def lp(r: Row) = r.getBoolean(2 * k)
          def rp(r: Row) = r.getBoolean(2 * k + 1)
          val markerCol = s"__dq_cmp_xmark_$id"
          val xKeyNames = columns.indices.map(i => s"__dq_cmp_xk${i}_$id")
          val xSchema = StructType(columns.zipWithIndex.map { case (c, i) =>
            df.schema(c).copy(name = xKeyNames(i), nullable = true)
          })
          val extrasDf = spark.createDataFrame(
            collected.filter(r => lp(r) && !rp(r))
              .map(r => Row.fromSeq(xKeyNames.indices.map(r.get))).distinct.toList.asJava, xSchema)
            .withColumn(markerCol, lit(true))
          val changedKeysDf = spark.createDataFrame(
            collected.filter(r => lp(r) && rp(r))
              .map(r => Row.fromSeq((k until 2 * k).map(r.get))).distinct.toList.asJava,
            StructType(refColumns.map(c => refDf.schema(c).copy(nullable = true))))
          val refDetail = refW.select(refNeeded.map(c => col(c).as(refPrefix + c)): _*)
          val refFiltered = refDetail.join(broadcast(changedKeysDf),
            nullSafeJoinCondition(rightKeys, refColumns.map(changedKeysDf(_))), "left_semi")
          // exact-key (null-safe) match for the extras marker: it re-finds the
          // rows the slim join left unmatched, whatever the matching mode
          val joined = dfW
            .join(broadcast(refFiltered), joinCond, "left_outer")
            .join(broadcast(extrasDf),
              nullSafeJoinCondition(leftKeys, xKeyNames.map(extrasDf(_))), "left_outer")
          val isExtra = coalesce(col(markerCol), lit(false))
          val flagged = joined
            .withColumn(missingCol, lit(false))
            .withColumn(extraCol, isExtra)
            .withColumn(changedCol,
              when(isExtra, lit(null).cast("map<string,string>"))
                .when(rightPresent, changedMap) // candidate with its ref row: exact diff
                .otherwise(map().cast("map<string,string>"))) // hash-clean match
            .drop(refNeeded.map(refPrefix + _): _*).drop(markerCol).drop(xKeyNames: _*)
          if (!checkMissingRecords) flagged
          else {
            val missSchema = StructType(columns.map(c => df.schema(c).copy(nullable = true)))
            val missingKeysDf = spark.createDataFrame(
              collected.filter(r => !lp(r) && rp(r))
                .map(r => Row.fromSeq((k until 2 * k).map(r.get))).toList.asJava, missSchema)
            val missingFull = missingKeysDf.select(df.columns.map(c =>
                if (columns.contains(c)) col(c) else lit(null).cast(df.schema(c).dataType).as(c)): _*)
              .withColumn(missingCol, lit(true))
              .withColumn(extraCol, lit(false))
              .withColumn(changedCol, lit(null).cast("map<string,string>"))
            flagged.unionByName(missingFull)
          }
        }
      }

      /** Presence path: with no compared columns and no missing-record mode,
        * the diff degenerates to "does the key exist in ref" — the FK shape.
        * Aggregate ref to unique struct keys and left-join on plain ===
        * (struct comparison is null-safe per field): the build side shrinks
        * to distinct keys, and when the flags go unread the row-preserving
        * join is eliminated outright. Known divergence from the wide join:
        * ref rows fully duplicated on the keys no longer multiply the
        * matching input rows (flags are identical either way — a PK-diff
        * against a ref with duplicate PKs is degenerate input).
        */
      def presenceApply(): DataFrame = {
        val kr = s"__dq_cmpk_${id}_r"
        val kl = s"__dq_cmpk_${id}_l"
        val presCol = s"__dq_cmp_pres_$id"
        // widen ONLY the agg side: its starved map stage runs the partial
        // aggregation over ref's distinct keys (measured 2x the whole compare
        // at 100M x 10 partitions); the input side's map stage is bare
        // scan + shuffle-write, which a repartition would merely repeat
        val refAgg = widenIfStarved(refDf)
          .groupBy(struct(refColumns.map(col): _*).as(kr))
          .agg(count(lit(1)).as(presCol))
        df.withColumn(kl, struct(columns.map(col): _*))
          .join(refAgg, col(kl) === col(kr), "left")
          .withColumn(missingCol, lit(false))
          // all-null-key rows never count as extra (leftPresent guard, as in
          // the wide path's present-marker semantics)
          .withColumn(extraCol, leftPresent && col(presCol).isNull)
          .withColumn(changedCol, lit(null).cast("map<string,string>"))
          .drop(kl, kr, presCol)
      }

      val typesAlign = keysAlignFor(df) &&
        compared.forall(c => df.schema(c).dataType == refDf.schema(c).dataType)
      if (presencePathFor(df))
        presenceApply()
      else if (hashPrefilter && compared.nonEmpty && typesAlign && !df.isStreaming)
        prefilterApply().getOrElse(wideApply())
      else wideApply()
    }
    val anyChanged = coalesce(size(map_keys(col(changedCol))) > 0, lit(false))
    val failCond = col(missingCol) || col(extraCol) || anyChanged
    DatasetCheck(df => applyImpl(df, df),
      makeCondition(failCond,
        to_json(struct(
          col(missingCol).as("row_missing"),
          col(extraCol).as("row_extra"),
          col(changedCol).as("changed")))),
      // Not row-preserving by default (ADVICE r11): even without
      // check_missing_records (which APPENDS ref-only marker rows), the wide
      // path is an outer join against refDf with no ref-side key dedup —
      // duplicate reference keys FAN OUT matching input rows, which is the
      // reference's own join shape (check_funcs.py:2885) and therefore kept.
      // Later stacked checks must not aggregate the pristine frame against a
      // possibly-fanned chained frame, so the engine reverts them to plain
      // applyFn after a compare — at the cost of super-linear plan growth
      // for self-join checks stacked after it (bounded by the auto-fence).
      // `refKeysUnique = true` is the caller's GUARANTEE that refDf's join
      // keys are distinct (the usual case: a deduped dimension), restoring
      // row parity — and linear stacked plans — when no marker rows append.
      rowPreserving = refKeysUnique && !checkMissingRecords,
      // Without the guarantee, hand the engine a DEFERRED data probe
      // (VERDICT r12 next #3): one slim count-vs-count-distinct aggregate
      // over refDf's join keys, run only if a LATER check wants the pristine
      // base, upgrading parity automatically when the keys prove unique.
      // struct() null-safe tuple distinctness matches the join's <=> modes
      // conservatively (stricter than === matching needs). Memoized: the
      // engine may consult once per downstream check.
      rowPreservingProbe =
        if (refKeysUnique || checkMissingRecords || refDf.isStreaming) None
        else Some { () =>
          // (1) zero-cost structural proof first: Catalyst's distinct-keys
          // propagation already knows the keys are unique when refDf is an
          // aggregate / dropDuplicates on (a subset of) the join keys —
          // driver-only plan analysis, no job. (2) Otherwise the slim
          // aggregate scan. Deliberately NOT cached in the supplier (ADVICE
          // r13: the rule object outlives the run and the ref data may
          // change between runs) — per-run memoization is the engine's,
          // keyed by rowPreservingProbeKey.
          refKeysStructurallyUnique(refDf, refColumns) || {
            val r = refDf
              .agg(count(lit(1)).as("n"),
                count_distinct(struct(refColumns.map(col): _*)).as("d"))
              .collect().head
            r.getLong(0) == r.getLong(1)
          }
        },
      // semantic identity for the engine's per-run probe dedupe: N compares
      // against the same ref frame + keys run ONE probe, not N (the bench's
      // foreach_compare_datasets measured 4 redundant 10M-row ref scans
      // without this)
      rowPreservingProbeKey =
        if (refKeysUnique || checkMissingRecords || refDf.isStreaming) None
        else scala.util.Try(
          s"${refDf.queryExecution.analyzed.semanticHash()}:${refColumns.mkString(",")}"
        ).toOption,
      // Zero-cost per-check verdict (VERDICT r13 next #3): when the dispatch
      // lands on the presence path for the frame this check was applied to,
      // parity holds whatever the ref data holds — no probe action. Per
      // check, not keyed: another compare over the same ref may pick a
      // fanning path for a different input schema.
      rowParityStatic =
        if (checkMissingRecords) None
        else Some(d => if (presencePathFor(d)) Some(true) else None),
      applyWithBase = Some((df, base) => applyImpl(df, base)))
  }

  /** Zero-cost uniqueness proof over a frame's join keys: true when
    * Catalyst's distinct-keys propagation (`LogicalPlanDistinctKeys`, fed by
    * Aggregate / Deduplicate / dropDuplicates shapes) proves a distinct-key
    * set that is a SUBSET of `keys` — the full key tuple is then distinct a
    * fortiori. Driver-only analysis of the optimized plan, no job; returns
    * false (not an error) when nothing is provable or the conf disables
    * propagation, so callers fall back to a data probe.
    */
  private[graft] def refKeysStructurallyUnique(refDf: DataFrame, keys: Seq[String]): Boolean =
    scala.util.Try {
      val attrs = keys.map(k =>
        org.apache.spark.sql.GraftColumnBridge.expression(refDf.col(k))).collect {
        case a: org.apache.spark.sql.catalyst.expressions.Attribute => a
      }
      attrs.length == keys.length && {
        val keySet = org.apache.spark.sql.catalyst.expressions.AttributeSet(attrs)
        refDf.queryExecution.optimizedPlan.distinctKeys.exists(ks =>
          ks.nonEmpty && ks.forall {
            case a: org.apache.spark.sql.catalyst.expressions.Attribute => keySet.contains(a)
            case _ => false
          })
      }
    }.getOrElse(false)

  // ------------------------------------- partitioned global-ordered windows

  /** Default partition cap for [[withPartitionedOrderedWindow]]: helper-row
    * volume is O(p²·frameRows) (every partition's boundary rows are
    * re-targeted at every later/earlier partition — ADVICE r12), so p must
    * not inherit a cluster-sized shuffle-partition count unchecked. 64
    * partitions keep a 10⁷-bucket frame (~20 years at minute grain) at
    * ~160k window-sorted rows per task while bounding helpers at
    * 64²·frameRows/2 ≈ 20k rows for a lookback of 10.
    */
  private[graft] val MaxOrderedWindowParts = 64

  /** Frames provably at or below this row count skip the bucket machinery
    * and run the plain single-task ordered window (VERDICT r13 next #2): a
    * ≤640k-row sorted window is ONE small task, while the bucketed shape
    * costs a bounds aggregate + crossJoin + ~3 extra AQE stage waves
    * (measured ~0.25 s on the honest 10M read path — pure overhead when the
    * frame is small).
    */
  private[graft] val SmallOrderedWindowRows: Long = MaxOrderedWindowParts * 10000L

  /** 1900..2100 — wider than any sane timestamp domain. Used only to BOUND a
    * time-bucketed frame's row count statically (buckets ≤ horizon/grain);
    * junk timestamps beyond it merely cost a bigger single task, never a
    * wrong answer.
    */
  private val OrderedWindowHorizonSec: Long = 200L * 366 * 24 * 3600

  /** Static plan-shape gate for the ungrouped time-bucket checks: a frame of
    * one row per occupied `bucketSeconds` window cannot exceed
    * horizon/grain rows, so a coarse grain (≥ ~3 hours) proves the frame
    * small WITHOUT a data probe — the callers pass `Some(1)` through to
    * [[withPartitionedOrderedWindow]]'s plain path. `None` (fine grain or
    * unparseable interval) keeps the partitioned shape.
    *
    * NOTE for bench-log readers (VERDICT r14 #4/#7): every remaining
    * `WARN WindowExec: No Partition Defined` in the bench tail comes from
    * THIS deliberately chosen plain path — a window over a frame statically
    * proven ≤ [[SmallOrderedWindowRows]] (≤640k) rows, where one small
    * sorted task beats the bucketed machinery's 3 extra stage waves. It is
    * not a scale hazard: frames that cannot be proven small keep the
    * partitioned bucket shape (see the COVERAGE.md warning table for the
    * per-source bounds).
    */
  private[graft] def orderedWindowPartsFor(bucketSeconds: Long): Option[Int] =
    if (bucketSeconds > 0 && OrderedWindowHorizonSec / bucketSeconds <= SmallOrderedWindowRows)
      Some(1)
    else None

  /** Best-effort seconds in a `window()`-style interval string ("30 days",
    * "1 hour 30 minutes"); 0 when unparseable (callers then keep the
    * partitioned shape — the safe default). Month/year units are not valid
    * `window()` durations, so they intentionally don't parse here.
    */
  private[graft] def intervalSecondsOf(interval: String): Long = {
    val unitSec = Map("microsecond" -> 0L, "millisecond" -> 0L, "second" -> 1L,
      "minute" -> 60L, "hour" -> 3600L, "day" -> 86400L, "week" -> 604800L)
    val token = "(\\d+)\\s+([a-zA-Z]+?)s?\\b".r
    val parts = token.findAllMatchIn(interval.trim.toLowerCase).toSeq
    val known = parts.flatMap(m => unitSec.get(m.group(2)).map(_ * m.group(1).toLong))
    if (parts.isEmpty || known.length != parts.length) 0L else known.sum
  }

  /** Partition-parallel replacement for an UNGROUPED ordered window over a
    * slim frame (VERDICT r11 next #2). `Window.orderBy` with no partition
    * key collapses the frame into ONE task (the "No Partition Defined"
    * WindowExec) — bounded here by bucket count, but still ~10⁶
    * single-threaded sorted rows at minute grain over multi-year data.
    *
    * Shape: assign each row a DETERMINISTIC value-contiguous bucket id
    * (`pid` = how many of the p−1 sampled-quantile boundaries of `orderCol`
    * lie below the row's key — a pure expression over a broadcast 1-row
    * aggregate), run the SAME window partitioned by that id, and repair the
    * frames that cross bucket boundaries with helper rows — the last
    * `prevRows` / first `nextRows` rows of every bucket, re-targeted at
    * every later / earlier bucket via a tiny non-equi broadcast join
    * (O(p²·frameRows) rows total, bounded by the [[MaxOrderedWindowParts]]
    * cap — never by data). Each true row's frame over the per-bucket union
    * is then exactly its global frame: buckets are value-contiguous and
    * monotone in `orderCol`, so a global neighbor within `prevRows` of a
    * row in a later bucket has fewer than `prevRows` rows after it in its
    * OWN bucket, hence sits in that bucket's tail; and helpers are real
    * rows, so nothing spurious intervenes. Helper rows' own outputs are
    * discarded.
    *
    * The pid must be a deterministic FUNCTION OF THE DATA so the helper and
    * main branches agree on bucket membership without materializing a
    * shared partitioning — the r12 shape pinned it with a lazy
    * localCheckpoint instead, whose `toRdd` planned the whole slim subtree
    * at rule-BUILD time (~0.2 s per rule even when the verdict was never
    * read; VERDICT r12 next #2). Here nothing plans until execution, and
    * the branches' identical aggregate subtrees dedupe through exchange
    * reuse. Crucially the boundaries are `sort_array(collect_list(sample))`
    * — a pure function of the input MULTISET — not `percentile_approx`,
    * whose final sketch merge depends on shuffle-fetch arrival order
    * (ADVICE r13): if AQE exchange reuse is off (or declines), the union's
    * branches RE-EXECUTE the bounds aggregate, and an arrival-order-
    * sensitive result could put a boundary-adjacent row in different
    * buckets per branch, silently corrupting frames. The multiset form
    * re-executes identically by construction; reuse remains a perf
    * courtesy, not a correctness dependency. ADVICE's driver-side collect
    * alternative was rejected: an eager boundary action per rule apply
    * would execute the bucket aggregate even when the verdict is never
    * read, regressing the unread-path pruning the r13 rework won.
    * Boundaries from a 1-in-`boundsSampleMod` deterministic hash sample
    * still balance buckets by COUNT (±~10% at 10⁷ rows); a sample too
    * small to split (tiny frames) degrades to fewer effective buckets,
    * never to a wrong answer.
    *
    * Requires `orderCol` values distinct across rows (callers pass
    * grouped-by-bucket frames) and frame bounds within
    * `[-prevRows, nextRows]` in `addCols`. Batch-only (the two callers are
    * lead/rolling-band checks, unsupported on streams regardless).
    * `numParts = Some(1)` short-circuits to the plain single-task global
    * window with none of the bucket machinery — callers pass it when the
    * frame is provably small (see [[orderedWindowPartsFor]]).
    */
  private[graft] def withPartitionedOrderedWindow(
      frame: DataFrame, orderCol: String, prevRows: Int, nextRows: Int,
      numParts: Option[Int] = None, boundsSampleMod: Int = 1000)(
      addCols: (DataFrame, org.apache.spark.sql.expressions.WindowSpec) => DataFrame): DataFrame = {
    val id = uniqueSuffix()
    val pidC = s"__dq_pow_pid_$id"
    val helperC = s"__dq_pow_helper_$id"
    val spark = frame.sparkSession
    val p = numParts.getOrElse(
      math.min(spark.sessionState.conf.numShufflePartitions, MaxOrderedWindowParts))
    // plain single-task global window: no bounds aggregate, no helpers, no
    // union — one small sorted task (VERDICT r13 next #2). The callers'
    // frames are Aggregate/Distinct outputs, so the orderCol uniqueness
    // proof Catalyst needs to eliminate an unread verdict join-back
    // propagates naturally (no dropDuplicates re-proof required here).
    if (p <= 1)
      return addCols(frame, Window.orderBy(col(orderCol)))
    // orderCol as double: monotone for every numeric/date/timestamp key the
    // callers pass (timestamps become epoch seconds), which is all the
    // bucket-id math needs
    val ordD = col(orderCol).cast("double")
    // single-select op chains throughout: every DataFrame op re-analyzes the
    // whole accumulated tree, and this helper is built (and thrown away) on
    // every rule apply — the r12 localCheckpoint's plan-compile overhead must
    // not come back as death-by-withColumn (VERDICT r12 next #2)
    val frameCols = frame.columns.map(col)
    val bucketed = {
        val bC = s"__dq_pow_bounds_$id"
        // The boundary input is ordD wrapped to REFERENCE every other frame
        // column without changing its value: greatest(x, least(x, y)) == x
        // for any y (least <= x; Spark's least/greatest skip nulls and order
        // NaN above everything). Why: `frame` is the callers' bucket
        // aggregate over the full input, and if this branch reads only
        // orderCol, column pruning rewrites its partial aggregate to a
        // slimmer shape than the window branches' — canonically different
        // exchanges, so AQE cannot reuse the heavy input-scan stage and the
        // input aggregates TWICE (measured +15% on the 10M honest cell; the
        // pruning saves only a few bytes/row of shuffle). xxhash64 makes the
        // reference type-agnostic; map columns can't hash, so a frame of
        // only-unhashable extras just keeps the pruned shape. A null order
        // key stays null (ADVICE r13: least/greatest SKIP nulls, so the
        // unwrapped form would leak the raw hash into the boundary input).
        val others = frame.schema.fields
          .filter(f => f.name != orderCol && f.dataType.typeName != "map").map(_.name)
        val anchored =
          if (others.isEmpty) ordD
          else when(ordD.isNull, ordD).otherwise(
            greatest(ordD, least(ordD, xxhash64(others.map(col): _*).cast("double"))))
        // Deterministic sampled quantiles (see scaladoc): collect a
        // 1-in-boundsSampleMod hash sample of the order keys, sort it (a
        // pure function of the multiset — identical on every re-execution),
        // and read the p-1 evenly-ranked values as boundaries. collect_list
        // skips nulls, so unsampled rows and null keys never enter; the
        // buffer holds ~frameRows/boundsSampleMod doubles (10⁷ buckets →
        // 10⁴ — trivially broadcastable).
        val arrC = s"__dq_pow_arr_$id"
        val sampled =
          if (boundsSampleMod <= 1) anchored
          else when(pmod(xxhash64(col(orderCol)), lit(boundsSampleMod.toLong)) === 0, anchored)
        val sz = size(col(arrC)).cast("long")
        val bounds = frame.agg(sort_array(collect_list(sampled)).as(arrC))
          .select(array((1 until p).map { i =>
            when(sz >= 1, element_at(col(arrC), greatest(lit(1L), sz * i / p).cast("int")))
          }: _*).as(bC))
        // pid = #boundaries strictly below the key. UNROLLED comparisons, not
        // functions.aggregate: higher-order lambdas are CodegenFallback —
        // interpreted per row per branch, measured ~2x the whole probe at 10M
        // buckets. element_at + when stay inside whole-stage codegen. A null
        // boundary (empty/undersized sample) makes its term 0 via otherwise().
        val pid = (1 until p).map(i =>
          when(ordD > element_at(col(bC), i), 1).otherwise(0)).reduce(_ + _)
        frame.crossJoin(broadcast(bounds))
          .select(frameCols :+ pid.as(pidC) :+ lit(false).as(helperC): _*)
      }
    // one int per possible bucket id — p rows, broadcast
    val tgtC = s"__dq_pow_tgt_$id"
    val pids = spark.range(p).select(col("id").cast("int").as(tgtC))
    val keptCols = frameCols
    def boundary(take: Int, newestFirst: Boolean, toLater: Boolean): Option[DataFrame] =
      if (take <= 0) None
      else {
        val ord = if (newestFirst) col(orderCol).desc else col(orderCol).asc
        val rnC = s"__dq_pow_rn_$id"
        val rows = bucketed.select(keptCols :+ col(pidC) :+
            row_number().over(Window.partitionBy(col(pidC)).orderBy(ord)).as(rnC): _*)
          .where(col(rnC) <= take)
        val cond = if (toLater) col(pidC) < col(tgtC) else col(pidC) > col(tgtC)
        Some(rows.join(broadcast(pids), cond)
          .select(keptCols :+ col(tgtC).as(pidC) :+ lit(true).as(helperC): _*))
      }
    val helpers = boundary(prevRows, newestFirst = true, toLater = true).toSeq ++
      boundary(nextRows, newestFirst = false, toLater = false).toSeq
    val unioned = helpers.foldLeft(bucketed)(_ unionByName _)
    val w = Window.partitionBy(col(pidC)).orderBy(col(orderCol))
    // dropDuplicates(orderCol) is a semantic no-op (orderCol is distinct by
    // precondition) that re-proves key uniqueness ABOVE the union: Union
    // does not propagate its branches' distinct keys, and without a visible
    // uniqueness proof Catalyst cannot eliminate the callers' verdict
    // join-back when nothing reads it — an unread check would pay the whole
    // subtree (caught by the r12 100M countparity cells). With the proof
    // restored, pruned plans never execute any of this.
    addCols(unioned, w).where(!col(helperC)).drop(pidC, helperC)
      .dropDuplicates(Seq(orderCol))
  }

  // ------------------------------------------------------------ time windows

  /** D12 (check_funcs.py:2948): per-tumbling-window arrival count must reach
    * `minRecordsPerWindow`. Null timestamps are coalesced to a 1900-01-01
    * sentinel window. Only windows within `lookbackWindows` of `curTimestamp`
    * are checked when set.
    */
  def isDataFreshPerTimeWindow(column: String, windowMinutes: Int, minRecordsPerWindow: Long,
                               lookbackWindows: Option[Int] = None,
                               rowFilter: Option[String] = None,
                               curTimestamp: Option[Column] = None): DatasetCheck = {
    val id = uniqueSuffix()
    val cntCol = s"__dq_fresh_cnt_$id"
    val winCol = s"__dq_fresh_win_$id"
    val filterC = rowFilter.map(expr).getOrElse(lit(true))
    val ts = coalesce(col(column), lit("1900-01-01 00:00:00").cast("timestamp"))
    val win = window(ts, s"$windowMinutes minutes")
    def applyImpl(df: DataFrame, aggSource: DataFrame): DataFrame = {
      val withWin = df.withColumn(winCol, win.getField("start"))
      // Aggregate per-window counts (one row per occupied window, bounded by
      // the time range) and equality-join them back instead of a
      // Window.partitionBy over the full input: that shape shuffles every row
      // on the window key, this one shuffles only the aggregation and the
      // non-null sentinel grain keeps the join-back provably row-preserving.
      // Counts read aggSource (the engine's pristine frame) so stacked
      // checks stay linear (DatasetCheck.applyWithBase scaladoc).
      val winF = s"${winCol}_f"
      val counts = aggSource.withColumn(winCol, win.getField("start"))
        .groupBy(col(winCol).as(winF))
        .agg(sum(when(filterC, lit(1)).otherwise(lit(0))).as(cntCol))
      withWin.join(broadcast(counts), col(winCol) === col(winF), "left").drop(winF)
    }
    val now = curTimestamp.getOrElse(current_timestamp())
    val inLookback = lookbackWindows match {
      case Some(n) => col(winCol) >= HoistedConstant(to_timestamp(from_unixtime(
        unix_timestamp(now) - n.toLong * windowMinutes * 60)))
      case None => lit(true)
    }
    DatasetCheck(df => applyImpl(df, df),
      makeCondition(inLookback && col(cntCol) < minRecordsPerWindow,
        concat(lit(s"Time window starting "), valueText(col(winCol)),
          lit(s" has "), col(cntCol).cast("string"),
          lit(s" records, fewer than $minRecordsPerWindow"))),
      applyWithBase = Some((df, base) => applyImpl(df, base)))
  }

  /** D13 (check_funcs.py:3062): missing tumbling windows in a time series.
    * Occupied windows per group are ranked; a gap exists when the next occupied
    * window starts more than one window-length after the current. Rows in the
    * bucket immediately before a gap fail.
    *
    * Scale shape: with no `group_by` the occupied-window lead runs through
    * [[withPartitionedOrderedWindow]] — range-partitioned, boundary-repaired,
    * fully parallel over one row per OCCUPIED bucket. The reference ranks
    * the same frame through a single-partition window (check_funcs.py:3062);
    * this shape removes that collapse.
    */
  def hasNoGapsPerTimeWindow(column: String, windowMinutes: Int,
                             groupBy: Seq[String] = Seq.empty,
                             trailingGapMinutes: Option[Int] = None,
                             curTimestamp: Option[Column] = None,
                             broadcastFlags: Option[Boolean] = None): DatasetCheck = {
    val id = uniqueSuffix()
    val winCol = s"__dq_gap_win_$id"
    val gapCol = s"__dq_gap_flag_$id"
    val nextCol = s"__dq_gap_next_$id"
    // Sentinel-coalesce the probe side: window() injects isnotnull(ts) and
    // would DROP null-ts rows from the checked output. Occupied windows are
    // still computed from real timestamps only, so a null-ts row probes the
    // (unoccupied) 1900 bucket, matches nothing, and passes — the reference's
    // behavior for rows its F.window aggregation never sees.
    val winSafe = window(coalesce(col(column), lit("1900-01-01 00:00:00").cast("timestamp")),
      s"$windowMinutes minutes").getField("start")
    def applyImpl(df: DataFrame, aggSource: DataFrame): DataFrame = {
      val withWin = df.withColumn(winCol, winSafe)
      // occupied windows come from aggSource (the engine's pristine frame)
      // so stacked checks stay linear (DatasetCheck.applyWithBase scaladoc)
      val occupied = aggSource.withColumn(winCol, winSafe)
        .where(col(column).isNotNull)
        .select((groupBy.map(col) :+ col(winCol)): _*).distinct()
      val now = curTimestamp.getOrElse(current_timestamp())
      // grouped: one hash-partitioned window. Ungrouped: the equivalent
      // global lead would collapse the slim occupied-window frame into ONE
      // task — range-partition with boundary repair instead (VERDICT r11
      // next #2; the reference accepts the collapse, check_funcs.py:3062).
      val withNext =
        if (groupBy.nonEmpty) occupied.withColumn(nextCol, lead(col(winCol), 1)
          .over(Window.partitionBy(groupBy.map(col): _*).orderBy(col(winCol))))
        else if (occupied.isStreaming) // unreachable today (lead gates earlier on streams)
          occupied.withColumn(nextCol, lead(col(winCol), 1).over(Window.orderBy(col(winCol))))
        else withPartitionedOrderedWindow(occupied, winCol, 0, 1,
          // coarse grain proves the frame small statically -> plain window
          numParts = orderedWindowPartsFor(windowMinutes * 60L))((f, w) =>
          f.withColumn(nextCol, lead(col(winCol), 1).over(w)))
      val flagged = withNext
        .withColumn(gapCol,
          (col(nextCol).isNotNull &&
            unix_timestamp(col(nextCol)) - unix_timestamp(col(winCol)) > windowMinutes * 60L) ||
          (col(nextCol).isNull && trailingGapMinutes.exists(_ > 0) &&
            HoistedConstant(unix_timestamp(now)) - unix_timestamp(col(winCol)) >
              trailingGapMinutes.getOrElse(0) * 60L))
      val renamed = groupBy.map(g => s"__dq_gg_${g}_$id")
      val flags = flagged.select(
        (groupBy.zip(renamed).map { case (g, nn) => col(g).as(nn) } :+
          col(winCol).as(s"${winCol}_f") :+ col(gapCol) :+ col(nextCol)): _*)
      // winCol is non-null (sentinel) -> plain === ; group keys stay null-safe
      val winEq = col(winCol) === col(s"${winCol}_f")
      val joinCond =
        if (groupBy.isEmpty) winEq
        else nullSafeJoinCondition(groupBy.map(col), renamed.map(col)) && winEq
      // one row per occupied (group, window) — broadcast only when groupBy is
      // empty (time-range-bounded); see hasNoAggrOutliers for the rationale
      val buildSide =
        if (broadcastFlags.getOrElse(groupBy.isEmpty)) broadcast(flags) else flags
      withWin.join(buildSide, joinCond, "left").drop((renamed :+ s"${winCol}_f"): _*)
    }
    DatasetCheck(df => applyImpl(df, df),
      makeCondition(coalesce(col(gapCol), lit(false)),
        concat(lit("Gap after time window starting "), valueText(col(winCol)),
          lit(", next occupied window "), valueText(col(nextCol)))),
      applyWithBase = Some((df, base) => applyImpl(df, base)))
  }

  // ------------------------------------------------------------ MAD outliers

  /** D1 (check_funcs.py:1743): MAD outlier band — median ± factor·MAD computed
    * via two driver-side actions, then a per-row band predicate with
    * literal-folded bounds. `exact=true` uses exact percentile (oracle-stable);
    * default approx matches the reference (percentile_approx).
    * Batch-only (driver actions) — gate for streaming.
    *
    * Carries a [[graft.rules.MadSpec]] so `DQEngine.applyChecks` can batch the
    * stats of every MAD rule in a rule set into two actions total; the
    * standalone `applyFn` below (2 actions per rule) is only used outside the
    * engine.
    */
  def hasNoOutliers(column: String, factor: Double = 3.5, exact: Boolean = false,
                    rowFilter: Option[String] = None): DatasetCheck = {
    val id = uniqueSuffix()
    val loCol = s"__dq_mad_lo_$id"
    val hiCol = s"__dq_mad_hi_$id"
    val applyFn = (df: DataFrame) => {
      val base = rowFilter.map(df.filter).getOrElse(df)
      val medianRow = base.select(madStatAgg(expr(column), exact).as("m")).first()
      if (medianRow.isNullAt(0)) {
        df.withColumn(loCol, lit(null).cast("double")).withColumn(hiCol, lit(null).cast("double"))
      } else {
        val med = medianRow.get(0).asInstanceOf[Number].doubleValue()
        val madRow = base.select(
          madStatAgg(abs(expr(column).cast("double") - med), exact).as("mad")).first()
        val mad = if (madRow.isNullAt(0)) 0.0 else madRow.get(0).asInstanceOf[Number].doubleValue()
        val lo = med - factor * mad
        val hi = med + factor * mad
        df.withColumn(loCol, lit(lo)).withColumn(hiCol, lit(hi))
      }
    }
    val filterC = rowFilter.map(expr).getOrElse(lit(true))
    DatasetCheck(applyFn,
      makeCondition(filterC && col(loCol).isNotNull && col(column).isNotNull &&
        (col(column) < col(loCol) || col(column) > col(hiCol)),
        concat(lit(s"Value '"), valueText(col(column)),
          lit(s"' in column '$column' is outside MAD band ["),
          valueText(col(loCol)), lit(", "), valueText(col(hiCol)), lit("]"))),
      madSpec = Some(graft.rules.MadSpec(column, factor, exact, rowFilter, loCol, hiCol)))
  }

  /** Batched MAD stats for the engine: ONE action computes every spec's
    * median (conditional aggregation folds each rowFilter into its
    * percentile, so differing filters still share the scan), then ONE action
    * computes every MAD against the fetched medians. Returns loCol ->
    * (lo, hi) band, or None for null-median (empty/filtered-out) columns.
    * Specs are deduplicated on (column, filter, exact) so repeated rules
    * don't widen the scan.
    */
  /** MAD stat aggregate: exact -> [[ExactMedian]] (primitive-array
    * quickselect; Spark's built-in exact `percentile` boxes every value into
    * an OpenHashMap — measured ~5x slower at 600k rows and worse at scale);
    * approx -> approx_percentile, the reference default. Exact casts to
    * double (interpolating-median semantics match DuckDB `median`).
    */
  private def madStatAgg(in: Column, exact: Boolean): Column =
    if (exact) ExactMedian.of(in)
    else percentile_approx(in, lit(0.5), lit(10000))

  /** Analysis-only probe: does this spec's median aggregate resolve against
    * `df` AS A NUMERIC aggregation? Probes with the built-in percentile
    * (which rejects non-numeric input at analysis, unlike a bare double
    * cast); unresolvable specs fall back to the per-rule path, which yields
    * the engine's skip-don't-fail semantics.
    */
  def madSpecResolves(df: DataFrame, sp: graft.rules.MadSpec): Boolean = {
    val in = sp.rowFilter.map(f => s"CASE WHEN ($f) THEN ${sp.column} END").getOrElse(sp.column)
    scala.util.Try(df.select(expr(s"percentile($in, 0.5)"))).isSuccess
  }

  def computeMadBands(df: DataFrame, specs: Seq[graft.rules.MadSpec]): Map[String, Option[(Double, Double)]] = {
    def statKey(sp: graft.rules.MadSpec) = (sp.column, sp.rowFilter, sp.exact)
    def inputOf(sp: graft.rules.MadSpec): Column = sp.rowFilter match {
      case Some(f) => when(expr(f), expr(sp.column)) // median ignores NULLs
      case None => expr(sp.column)
    }
    val distinct = specs.groupBy(statKey).map(_._2.head).toSeq
    val medExprs = distinct.zipWithIndex.map { case (sp, i) =>
      madStatAgg(inputOf(sp), sp.exact).as(s"m$i")
    }
    val medRow = df.select(medExprs: _*).first()
    val medians: Map[(String, Option[String], Boolean), Option[Double]] =
      distinct.zipWithIndex.map { case (sp, i) =>
        statKey(sp) -> (if (medRow.isNullAt(i)) None
                        else Some(medRow.get(i).asInstanceOf[Number].doubleValue()))
      }.toMap
    val withMed = distinct.filter(sp => medians(statKey(sp)).isDefined)
    val mads: Map[(String, Option[String], Boolean), Double] =
      if (withMed.isEmpty) Map.empty
      else {
        val madExprs = withMed.zipWithIndex.map { case (sp, i) =>
          val med = medians(statKey(sp)).get
          madStatAgg(abs(inputOf(sp).cast("double") - med), sp.exact).as(s"d$i")
        }
        val madRow = df.select(madExprs: _*).first()
        withMed.zipWithIndex.map { case (sp, i) =>
          statKey(sp) -> (if (madRow.isNullAt(i)) 0.0
                          else madRow.get(i).asInstanceOf[Number].doubleValue())
        }.toMap
      }
    specs.map { sp =>
      sp.loCol -> medians(statKey(sp)).map { med =>
        val mad = mads.getOrElse(statKey(sp), 0.0)
        (med - sp.factor * mad, med + sp.factor * mad)
      }
    }.toMap
  }

  // ------------------------------------------------------------ row anomalies

  /** D15 (anomaly/check_funcs.py:119): the reference scores rows with a
    * sklearn IsolationForest pandas UDF. Here: a pure-Spark multivariate
    * z-score detector — one driver aggregation for per-column mean/stddev
    * (literal-folded, like the reference's MAD pattern), then a row-local
    * score = max |z| over the columns; rows above `threshold` fail. A
    * model-based scorer can plug in behind the same DatasetCheck contract.
    *
    * Emits a per-row anomaly struct into `_dq_info` via the engine's info-column
    * merge (anomaly/anomaly_info_schema.py:28-44): score, is_anomaly, threshold,
    * model id, and per-column contribution percentages (|z| share of total).
    */
  def hasNoRowAnomalies(columns: Seq[String], threshold: Double = 3.5,
                        rowFilter: Option[String] = None,
                        checkName: String = "has_no_row_anomalies",
                        enableContributions: Boolean = true,
                        explainer: graft.anomaly.AnomalyExplainer = new graft.anomaly.NullAnomalyExplainer,
                        redactColumns: Seq[String] = Seq.empty): DatasetCheck = {
    require(columns.nonEmpty, "columns must not be empty")
    val id = uniqueSuffix()
    val scoreCol = s"__dq_zscore_$id"
    val infoCol = s"__dq_info_anomaly_$id"
    val filterC = rowFilter.map(expr).getOrElse(lit(true))
    val applyFn = (df: DataFrame) => {
      val base = rowFilter.map(df.filter).getOrElse(df)
      val aggs = columns.flatMap(c => Seq(
        avg(col(c)).as(s"${c}__mean"), stddev_samp(col(c)).as(s"${c}__std")))
      val row = base.agg(aggs.head, aggs.tail: _*).collect().head
      val zs = columns.zipWithIndex.map { case (c, i) =>
        val mean = if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i)
        val std = if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1)
        if (std == 0.0) lit(0.0) else abs(col(c).cast("double") - mean) / std
      }
      val score = greatest((zs :+ lit(0.0)): _*)
      val zSum = zs.reduceOption(_ + _).getOrElse(lit(0.0))
      val contributions =
        if (!enableContributions) lit(null).cast("map<string,double>")
        else map(columns.zip(zs).flatMap { case (c, z) =>
          Seq(lit(c), when(zSum > 0, z / zSum * 100.0).otherwise(lit(0.0)))
        }: _*)
      val isAnomaly = filterC && col(scoreCol) > threshold
      val aiExplanation = explainer.explain(graft.anomaly.AnomalyExplainContext(
        checkName, isAnomaly, lit(null).cast("double"), contributions,
        lit(null).cast("map<string,string>"), redactColumns))
      df.withColumn(scoreCol, score)
        .withColumn(infoCol, graft.core.DQInfo.buildStruct(Map(
          "anomaly" -> struct(
            lit(checkName).as("check_name"),
            col(scoreCol).as("score"),
            lit(null).cast("double").as("severity_percentile"),
            // include the row filter so the info column agrees with _errors:
            // a filtered-out row must not report is_anomaly=true
            isAnomaly.as("is_anomaly"),
            lit(threshold).as("threshold"),
            lit("multivariate_zscore").as("model"),
            lit(null).cast("map<string,string>").as("segment"),
            contributions.as("contributions"),
            lit(null).cast("double").as("confidence_std"),
            aiExplanation.as("ai_explanation")
          ).cast(graft.core.DQInfo.anomalySchema))))
    }
    DatasetCheck(applyFn,
      makeCondition(filterC && col(scoreCol) > threshold,
        concat(lit(s"Row is a multivariate z-score anomaly over [${columns.mkString(", ")}]: score "),
          valueText(col(scoreCol)), lit(s" > $threshold"))),
      infoColName = Some(infoCol))
  }

  /** D15, model-based variant (anomaly/core.py:187-225): a pure-Scala
    * Isolation Forest trained on a driver-side sample (each tree needs only a
    * tiny subsample — the whole forest broadcasts inside one scoring
    * expression; no Python workers). `threshold` is a severity PERCENTILE
    * (0-100) against the training-score distribution, matching the reference's
    * anomaly contract; rows whose score percentile reaches it fail. Emits the
    * anomaly struct into `_dq_info` (score, severity_percentile, is_anomaly,
    * threshold, model). Batch-only (driver training action).
    */
  def hasNoRowAnomaliesIForest(columns: Seq[String], threshold: Double = 99.0,
                               numTrees: Int = 100, subsampleSize: Int = 256,
                               trainRows: Int = 10000, seed: Long = 42L,
                               rowFilter: Option[String] = None,
                               checkName: String = "has_no_row_anomalies",
                               enableContributions: Boolean = true,
                               enableConfidenceStd: Boolean = false,
                               explainer: graft.anomaly.AnomalyExplainer = new graft.anomaly.NullAnomalyExplainer,
                               redactColumns: Seq[String] = Seq.empty): DatasetCheck =
    iforestCheck(columns, threshold, rowFilter, checkName,
      enableContributions, enableConfidenceStd, explainer, redactColumns, df => {
      import graft.anomaly.IsolationForest
      val features = array(columns.map(c => coalesce(col(c).cast("double"), lit(0.0))): _*)
      val base = rowFilter.map(df.filter).getOrElse(df)
      val sample = base.select(features.as("f")).limit(trainRows)
        .collect().map(_.getSeq[Double](0).toArray)
      require(sample.nonEmpty, "no rows available to train the anomaly model")
      val model = IsolationForest.train(sample, numTrees, subsampleSize, seed)
      // severity percentile from the training-score distribution (broadcast
      // as a sorted literal array; binary search per row via SQL)
      (model, sample.map(model.score).sorted)
    })

  /** D15, pretrained variant: score with a model loaded from the file
    * registry ([[graft.anomaly.ModelRegistry]]) — no training action, so the
    * check is a pure projection and reproduces the training run's severity
    * percentiles exactly (the record carries the sorted training scores).
    * The reference's scoring orchestrator pulls the same pieces from MLflow
    * (anomaly/scoring_orchestrator.py); here the record is a plain file.
    */
  def hasNoRowAnomaliesPretrained(record: graft.anomaly.AnomalyModelRecord,
                                  threshold: Double = 99.0,
                                  rowFilter: Option[String] = None,
                                  checkName: String = "has_no_row_anomalies",
                                  enableContributions: Boolean = true,
                                  enableConfidenceStd: Boolean = false,
                                  explainer: graft.anomaly.AnomalyExplainer = new graft.anomaly.NullAnomalyExplainer,
                                  redactColumns: Seq[String] = Seq.empty): DatasetCheck =
    iforestCheck(record.columns, threshold, rowFilter, checkName,
      enableContributions, enableConfidenceStd, explainer, redactColumns,
      _ => (record.model, record.trainScoresSorted))

  private def iforestCheck(columns: Seq[String], threshold: Double,
                           rowFilter: Option[String], checkName: String,
                           enableContributions: Boolean,
                           enableConfidenceStd: Boolean,
                           explainer: graft.anomaly.AnomalyExplainer,
                           redactColumns: Seq[String],
                           modelOf: DataFrame => (graft.anomaly.IsolationForest.Model, Array[Double]))
      : DatasetCheck = {
    require(columns.nonEmpty, "columns must not be empty")
    require(threshold >= 0 && threshold <= 100, "threshold is a percentile in [0, 100]")
    import graft.anomaly.{IForestContrib, IForestScore, IForestScoreStd}
    import org.apache.spark.sql.GraftColumnBridge
    val id = uniqueSuffix()
    val scoreCol = s"__dq_if_score_$id"
    val sevCol = s"__dq_if_sev_$id"
    val contribCol = s"__dq_if_contrib_$id"
    val infoCol = s"__dq_info_anomaly_$id"
    val filterC = rowFilter.map(expr).getOrElse(lit(true))
    val features = array(columns.map(c => coalesce(col(c).cast("double"), lit(0.0))): _*)
    val applyFn = (df: DataFrame) => {
      val (model, trainScores) = modelOf(df)
      val score = GraftColumnBridge.column(IForestScore(
        GraftColumnBridge.expression(features), model))
      val scored = df.withColumn(scoreCol, score)
      // percentile of the row score within the training distribution
      val sev = GraftColumnBridge.column(graft.anomaly.ScorePercentile(
        GraftColumnBridge.expression(col(scoreCol)), trainScores))
      // depth-weighted per-feature attribution (SHAP stand-in), computed only
      // for flagged rows — the when() guard skips the second forest walk on
      // the clean 99%+
      val contribArr = GraftColumnBridge.column(IForestContrib(
        GraftColumnBridge.expression(features), model, columns.length))
      val isAnomaly = filterC && col(sevCol) >= threshold
      val contribMap = map(columns.zipWithIndex.flatMap { case (c, i) =>
        Seq(lit(c), col(contribCol)(i))
      }: _*)
      // enable_contributions=false skips the attribution forest walk entirely
      // (reference check_funcs.py:169-175 "Set False to skip the SHAP cost");
      // the default matches the reference 0.15.0 default (True)
      val contributions =
        if (!enableContributions) lit(null).cast("map<string,double>")
        else when(isAnomaly, contribMap)
      // ensemble disagreement, flagged rows only (extra forest walk); the
      // reference default is OFF (enable_confidence_std=False)
      val confidenceStd =
        if (!enableConfidenceStd) lit(null).cast("double")
        else when(isAnomaly, GraftColumnBridge.column(IForestScoreStd(
          GraftColumnBridge.expression(features), model)))
      val aiExplanation = explainer.explain(graft.anomaly.AnomalyExplainContext(
        checkName, isAnomaly, col(sevCol), contributions,
        lit(null).cast("map<string,string>"), redactColumns))
      scored.withColumn(sevCol, sev)
        .withColumn(contribCol,
          if (enableContributions) when(isAnomaly, contribArr)
          else lit(null).cast("array<double>"))
        .withColumn(infoCol, graft.core.DQInfo.buildStruct(Map(
          "anomaly" -> struct(
            lit(checkName).as("check_name"),
            col(scoreCol).as("score"),
            col(sevCol).as("severity_percentile"),
            // row filter included so _dq_info agrees with _errors on filtered rows
            isAnomaly.as("is_anomaly"),
            lit(threshold).as("threshold"),
            lit("isolation_forest").as("model"),
            lit(null).cast("map<string,string>").as("segment"),
            contributions.as("contributions"),
            confidenceStd.as("confidence_std"),
            aiExplanation.as("ai_explanation")
          ).cast(graft.core.DQInfo.anomalySchema))))
    }
    DatasetCheck(applyFn,
      makeCondition(filterC && col(sevCol) >= threshold,
        concat(lit(s"Row is an isolation-forest anomaly over [${columns.mkString(", ")}]: score "),
          valueText(col(scoreCol)), lit(" at severity percentile "),
          valueText(round(col(sevCol), 1)), lit(s" >= $threshold"))),
      infoColName = Some(infoCol))
  }

  // ---------------------------------------------------------------- sql_query

  /** D4 (check_funcs.py:2048): arbitrary SQL over an `{{input_view}}`
    * placeholder (+ optional reference views). Row mode (mergeColumns given):
    * the boolean `conditionColumn` of the result is deduped per `mergeColumns`
    * and joined back null-safely. Dataset mode (mergeColumns empty,
    * check_funcs.py:4799): the query must return at most one row; its
    * condition value is read on the driver and applied to every row as a
    * literal (batch-only, like the reference).
    */
  def sqlQuery(query: String, mergeColumns: Seq[String] = Seq.empty,
               conditionColumn: String,
               negate: Boolean = false, inputPlaceholder: String = "input_view",
               refDfs: Map[String, DataFrame] = Map.empty,
               rowFilter: Option[String] = None): DatasetCheck = {
    requireSafeSql(query, "SQL query")
    val id = uniqueSuffix()
    val condCol = s"__dq_sql_cond_$id"
    // aggSource feeds the user query's input view; df is what the verdict
    // column attaches to. The engine passes the PRISTINE frame as aggSource
    // (row-preserving parity) so stacked sql_query checks grow the plan
    // linearly — the r7 exponential blowup that motivated the auto-fence
    // came exactly from each check's view re-embedding every earlier
    // join-back (DatasetCheck.applyWithBase scaladoc).
    def applyImpl(df: DataFrame, aggSource: DataFrame): DataFrame = {
      val spark = df.sparkSession
      val viewName = s"__dq_input_view_$id"
      aggSource.createOrReplaceTempView(viewName)
      // Ref views register under the CALLER-GIVEN name (reference contract,
      // check_funcs.py:2112-2134): bare `name` in the query resolves through the
      // catalog, and only `{{ name }}` placeholders (whitespace-tolerant) are
      // textually replaced. Rewriting bare identifiers would corrupt queries
      // where the ref name doubles as a column name, alias, or string literal.
      refDfs.foreach { case (n, rdf) => rdf.createOrReplaceTempView(n) }
      def substPlaceholder(q: String, name: String, target: String): String =
        q.replaceAll("\\{\\{\\s*" + java.util.regex.Pattern.quote(name) + "\\s*\\}\\}",
          java.util.regex.Matcher.quoteReplacement(target))
      val sql = refDfs.keys.foldLeft(substPlaceholder(query, inputPlaceholder, viewName)) {
        case (q, n) => substPlaceholder(q, n, n)
      }
      val result = spark.sql(sql)
      if (mergeColumns.isEmpty) {
        // dataset mode: one condition value for the whole frame
        val rows = result.select(col(conditionColumn).cast("boolean").as(condCol)).take(2)
        require(rows.length <= 1,
          "Dataset-level sql_query without merge_columns must return exactly one row; " +
            "provide merge_columns for row-level checks or aggregate to a single row")
        val value = rows.headOption.exists(r => !r.isNullAt(0) && r.getBoolean(0))
        df.withColumn(condCol, lit(value))
      } else {
        // dedup to one row per merge key (check_funcs.py:2157); struct-key
        // === join-back (null-safe per field) so that when the condition goes
        // unread Catalyst proves the join row-preserving and prunes the whole
        // query subtree — a <=> chain blocks that proof
        val kr = s"__dq_sqlk_${id}_r"
        val kl = s"__dq_sqlk_${id}_l"
        val deduped = result.groupBy(struct(mergeColumns.map(col): _*).as(kr))
          .agg(max(col(conditionColumn)).as(condCol))
        df.withColumn(kl, struct(mergeColumns.map(col): _*))
          .join(deduped, col(kl) === col(kr), "left")
          .drop(kl, kr)
      }
    }
    val filterC = rowFilter.map(expr).getOrElse(lit(true))
    val raw = coalesce(col(condCol).cast("boolean"), lit(false))
    val failCond = if (negate) !raw else raw
    DatasetCheck(df => applyImpl(df, df),
      makeCondition(filterC && failCond,
        lit(s"Row flagged by SQL query check on condition column '$conditionColumn'")),
      applyWithBase = Some((df, base) => applyImpl(df, base)))
  }

  // ------------------------------------------------------------- valid schema

  /** D14 (check_funcs.py:3218): schema compatibility — strict (exact names,
    * types, order) or permissive (expected fields present with compatible,
    * possibly wider, types). Driver-side metadata compare; the per-row result
    * is a literal.
    */
  def hasValidSchema(expectedDdl: String, strict: Boolean = false,
                     columns: Seq[String] = Seq.empty,
                     excludeColumns: Seq[String] = Seq.empty): DatasetCheck = {
    val id = uniqueSuffix()
    val okCol = s"__dq_schema_ok_$id"
    val msgCol = s"__dq_schema_msg_$id"
    val expected = org.apache.spark.sql.types.StructType.fromDDL(expectedDdl)
    import org.apache.spark.sql.types._
    def compatible(actual: DataType, exp: DataType): Boolean = (actual, exp) match {
      case (a, e) if a == e => true
      case (a: StructType, e: StructType) =>
        e.fields.forall(ef => a.fields.find(_.name == ef.name).exists(af => compatible(af.dataType, ef.dataType)))
      case (a: ArrayType, e: ArrayType) => compatible(a.elementType, e.elementType)
      case (a: MapType, e: MapType) => compatible(a.keyType, e.keyType) && compatible(a.valueType, e.valueType)
      // atomic widening (check_funcs.py:3669)
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    val applyFn = (df: DataFrame) => {
      // Engine chains dataset checks on the augmented frame; ignore engine temp
      // metric columns so a schema rule placed after another dataset check sees
      // the pre-augmentation schema (reference _preselect_original_columns,
      // engine.py:483-512).
      val sel = if (columns.nonEmpty) columns
                else df.columns.toSeq.filterNot(_.startsWith("__dq_"))
      val fields = df.schema.fields.filter(f => sel.contains(f.name) && !excludeColumns.contains(f.name))
      val expFields = expected.fields.filterNot(f => excludeColumns.contains(f.name))
      val (ok, msg) =
        if (strict) {
          val a = fields.map(f => (f.name, f.dataType)).toSeq
          val e = expFields.map(f => (f.name, f.dataType)).toSeq
          if (a == e) (true, "") else (false, s"Schema mismatch (strict): actual ${a.mkString(",")} vs expected ${e.mkString(",")}")
        } else {
          val actualMap = fields.map(f => f.name -> f.dataType).toMap
          val problems = expFields.flatMap { ef =>
            actualMap.get(ef.name) match {
              case None => Some(s"missing column ${ef.name}")
              case Some(at) if !compatible(at, ef.dataType) =>
                Some(s"column ${ef.name}: incompatible type $at vs ${ef.dataType}")
              case _ => None
            }
          }
          (problems.isEmpty, problems.mkString("; "))
        }
      df.withColumn(okCol, lit(ok)).withColumn(msgCol, lit(if (msg.isEmpty) null else msg))
    }
    DatasetCheck(applyFn,
      makeCondition(!col(okCol), coalesce(col(msgCol), lit("Schema mismatch"))))
  }

  // -------------------------------------------------------------------- drift

  /** Distribution drift vs a stored baseline as a dataset check (the
    * check-surface form of [[graft.anomaly.Drift]], drift.py:113-195): when
    * any column's drift score reaches `threshold`, EVERY row fails with the
    * per-column story (the has_valid_schema flag-all convention — drift is a
    * dataset property, not a row property). Baselines come inline
    * (`baseline`) or from a stored model record (`modelLocation`,
    * [[graft.anomaly.ModelRegistry]]). One fused aggregation action at apply
    * time; batches under `minSampleSize` rows pass (skipped, drift.py:24).
    */
  def hasNoDrift(columns: Seq[String],
                 baseline: Map[String, graft.anomaly.Drift.ColumnStats],
                 threshold: Double = 3.0,
                 minSampleSize: Long = graft.anomaly.Drift.MinSampleSizeForDrift,
                 rowFilter: Option[String] = None): DatasetCheck = {
    require(columns.nonEmpty, "columns must not be empty")
    val id = uniqueSuffix()
    val okCol = s"__dq_drift_ok_$id"
    val msgCol = s"__dq_drift_msg_$id"
    val filterC = rowFilter.map(expr).getOrElse(lit(true))
    val applyFn = (df: DataFrame) => {
      val base = rowFilter.map(df.filter).getOrElse(df)
      val res = graft.anomaly.Drift.computeDriftScore(
        base, columns, baseline, threshold, minSampleSize)
      val msg =
        if (!res.driftDetected) null
        else {
          val per = res.driftedColumns.map(c =>
            f"$c (score ${res.columnScores(c)}%.2f)").mkString(", ")
          s"Distribution drift detected (recommendation: ${res.recommendation}): " +
            s"$per vs baseline at threshold $threshold over ${res.sampleSize} rows"
        }
      df.withColumn(okCol, lit(!res.driftDetected))
        .withColumn(msgCol, lit(msg))
    }
    DatasetCheck(applyFn,
      makeCondition(filterC && !col(okCol),
        coalesce(col(msgCol), lit("Distribution drift detected"))))
  }
}
