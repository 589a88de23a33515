package graft.rules

import graft.checks._
import graft.core.Criticality
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Typed access to a check's metadata arguments. */
final case class CheckArgs(args: Map[String, Any]) {
  def str(k: String): String = args.get(k) match {
    case Some(s: String) => s
    case Some(other) => String.valueOf(other)
    case None => throw new IllegalArgumentException(s"Missing required argument: $k")
  }
  def strOpt(k: String): Option[String] = args.get(k).map(String.valueOf)
  def strSeq(k: String): Seq[String] = args.get(k) match {
    case Some(s: Seq[_]) => s.map(String.valueOf)
    case Some(l: java.util.List[_]) => scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq.map(String.valueOf)
    case Some(s: String) => Seq(s)
    case Some(other) => throw new IllegalArgumentException(s"Argument $k is not a list: $other")
    case None => Seq.empty
  }
  def anySeq(k: String): Seq[Any] = args.get(k) match {
    case Some(s: Seq[_]) => s.asInstanceOf[Seq[Any]]
    case Some(l: java.util.List[_]) => scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq
    case None => Seq.empty
    case Some(other) => Seq(other)
  }
  def int(k: String, default: => Int): Int = args.get(k).map(v => String.valueOf(v).toDouble.toInt).getOrElse(default)
  def long(k: String, default: => Long): Long = args.get(k).map(v => String.valueOf(v).toDouble.toLong).getOrElse(default)
  def double(k: String, default: => Double): Double = args.get(k).map(v => String.valueOf(v).toDouble).getOrElse(default)
  def bool(k: String, default: => Boolean): Boolean = args.get(k).map {
    case b: Boolean => b
    case s => String.valueOf(s).toBoolean
  }.getOrElse(default)
  def any(k: String): Any = args.getOrElse(k, throw new IllegalArgumentException(s"Missing required argument: $k"))
  def column(k: String = "column"): Column = {
    val v = str(k)
    CheckArgs.resolveColumn(v)
  }
  def has(k: String): Boolean = args.contains(k)
}

object CheckArgs {
  private val rawHyphenName = "^[A-Za-z0-9_.-]+$".r

  /** The reference contract resolves a string `column` argument with
    * `F.expr` unconditionally (rule.py column coercion), so expressions
    * like "try_element_at(col7, 'key1')", "a + b" or "a::int" are legal
    * column arguments. We route through `expr()` whenever the string
    * PARSES as something other than a bare column reference; bare
    * references (incl. dotted struct paths and backquoted names) and
    * strings that do not parse at all keep `col()`. One deliberate,
    * documented divergence: a paren-/space-free token that would parse as
    * arithmetic over raw names ("a-b") stays a raw COLUMN NAME here —
    * the reference would treat it as subtraction unless backquoted; write
    * "a - b" (with spaces) to force the expression reading. Second
    * divergence (ADVICE r10 #4): a name containing a space ("amount usd")
    * parses as an Alias over a bare attribute — aliasing a check's INPUT
    * column is meaningless, so Alias(UnresolvedAttribute) keeps the raw
    * column-name reading via col() rather than silently resolving the
    * prefix column the reference's unconditional F.expr would pick.
    */
  def resolveColumn(v: String): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    if (rawHyphenName.pattern.matcher(v).matches() && !v.contains("(")) col(v)
    else scala.util.Try(CatalystSqlParser.parseExpression(v)) match {
      case scala.util.Success(_: UnresolvedAttribute) => col(v)
      case scala.util.Success(Alias(_: UnresolvedAttribute, _)) => col(v)
      case scala.util.Success(_) => expr(v)
      case scala.util.Failure(_) => col(v)
    }
  }
}

/** Resolution context handed to dataset-check builders that need reference
  * datasets or the session (executor.py:115-149 signature injection).
  */
final case class ResolveCtx(spark: SparkSession, refDfs: Map[String, DataFrame] = Map.empty) {
  def ref(args: CheckArgs): DataFrame = {
    val name = args.strOpt("ref_df_name").orElse(args.strOpt("ref_table"))
      .getOrElse(throw new IllegalArgumentException("ref_df_name or ref_table required"))
    refDfs.getOrElse(name,
      scala.util.Try(spark.read.table(name)).getOrElse(
        throw new IllegalArgumentException(s"Unknown reference dataset: $name")))
  }
}

sealed trait CheckFn
final case class RowCheckFn(build: CheckArgs => Column) extends CheckFn
final case class DatasetCheckFn(build: (CheckArgs, ResolveCtx) => DatasetCheck) extends CheckFn

/** Implemented by user classes/objects that bundle custom checks for
  * classpath-based loading — the Scala analogue of the reference's
  * module-path function resolution (checks_resolver.py:76-109).
  */
trait CheckProvider {
  def checks: Map[String, CheckFn]
}

/** Name -> check function registry (reference CHECK_FUNC_REGISTRY,
  * dqx/rule.py:38-49 + checks_resolver.py:36-109). Custom checks register via
  * [[CheckRegistry.register]].
  */
object CheckRegistry {
  import RowChecks._

  private def lim(a: CheckArgs, k: String): Any = a.any(k)

  /** The approximate geo path fires on `approximate: true` or the
    * reference's H3-style `resolution: N` — unless `precise: true` pins
    * the exact path.
    */
  private def geoApprox(a: CheckArgs): Boolean =
    !a.bool("precise", false) && (a.bool("approximate", false) || a.has("resolution"))

  /** cell_size wins when given; otherwise resolution N maps to a grid cell
    * whose area shrinks ~7x per step (sqrt(7) per side), anchored at 45
    * degrees for resolution 0 — the same growth law as H3 cells.
    */
  private def geoCellSize(a: CheckArgs): Double =
    if (a.has("cell_size")) a.double("cell_size", 1.0)
    else if (a.has("resolution")) 45.0 / math.pow(math.sqrt(7.0), a.int("resolution", 0).toDouble)
    else 1.0

  private val rowBuilders: Map[String, CheckArgs => Column] = Map(
    "is_not_null_and_not_empty" -> (a => isNotNullAndNotEmpty(a.column(), a.bool("trim_strings", false))),
    "is_not_empty" -> (a => isNotEmpty(a.column(), a.bool("trim_strings", false))),
    "is_not_null" -> (a => isNotNull(a.column())),
    "is_null" -> (a => isNull(a.column())),
    "is_empty" -> (a => isEmpty(a.column(), a.bool("trim_strings", false))),
    "is_null_or_empty" -> (a => isNullOrEmpty(a.column(), a.bool("trim_strings", false))),
    "has_valid_string_case" -> (a => hasValidStringCase(a.column(),
      a.strOpt("case").orElse(a.strOpt("case_type")).getOrElse("upper"))),
    "is_not_null_and_is_in_list" -> (a => isNotNullAndIsInList(a.column(), a.anySeq("allowed"), a.bool("case_sensitive", true))),
    "is_in_list" -> (a => isInList(a.column(), a.anySeq("allowed"), a.bool("case_sensitive", true))),
    "is_not_in_list" -> (a => isNotInList(a.column(), a.anySeq("forbidden"), a.bool("case_sensitive", true))),
    "sql_expression" -> (a => sqlExpression(a.str("expression"), a.strOpt("msg"), a.bool("negate", false))),
    "is_older_than_col2_for_n_days" -> (a => isOlderThanCol2ForNDays(col(a.str("column1")), col(a.str("column2")), a.int("days", 0), a.bool("negate", false))),
    "is_older_than_n_days" -> (a => isOlderThanNDays(a.column(), a.int("days", 0), a.strOpt("curr_date").map(col), a.bool("negate", false))),
    "is_not_in_future" -> (a => isNotInFuture(a.column(), a.long("offset", 0), a.strOpt("curr_timestamp").map(col))),
    "is_not_in_near_future" -> (a => isNotInNearFuture(a.column(), a.long("offset", 0), a.strOpt("curr_timestamp").map(col))),
    "is_equal_to" -> (a => isEqualTo(a.column(), lim(a, "value"))),
    "is_not_equal_to" -> (a => isNotEqualTo(a.column(), lim(a, "value"))),
    "is_not_less_than" -> (a => isNotLessThan(a.column(), lim(a, "limit"))),
    "is_not_greater_than" -> (a => isNotGreaterThan(a.column(), lim(a, "limit"))),
    "is_in_range" -> (a => isInRange(a.column(), lim(a, "min_limit"), lim(a, "max_limit"))),
    "is_not_in_range" -> (a => isNotInRange(a.column(), lim(a, "min_limit"), lim(a, "max_limit"))),
    "regex_match" -> (a => regexMatch(a.column(), a.str("regex"), a.bool("negate", false))),
    "is_not_null_and_not_empty_array" -> (a => isNotNullAndNotEmptyArray(a.column())),
    "is_valid_date" -> (a => isValidDate(a.column(), a.strOpt("date_format"))),
    "is_valid_timestamp" -> (a => isValidTimestamp(a.column(), a.strOpt("timestamp_format"))),
    "is_valid_ipv4_address" -> (a => isValidIpv4Address(a.column())),
    "is_valid_email" -> (a => isValidEmail(a.column())),
    "is_valid_national_id" -> (a => isValidNationalId(a.column(), a.str("country"))),
    "is_valid_country_code" -> (a => isValidCountryCode(a.column(), a.strOpt("code_format").getOrElse("alpha2"), a.bool("case_sensitive", true))),
    "is_valid_currency_code" -> (a => isValidCurrencyCode(a.column(),
      a.strOpt("code_format").getOrElse("alphabetic"), a.bool("case_sensitive", true))),
    "is_valid_subdivision_code" -> (a => isValidSubdivisionCode(a.column(), a.str("country"), a.bool("case_sensitive", true))),
    "is_valid_language_code" -> (a => isValidLanguageCode(a.column(),
      a.strOpt("code_format").getOrElse("alpha-2"), a.bool("case_sensitive", true))),
    "is_ipv4_address_in_cidr" -> (a => NetChecks.isIpv4AddressInCidr(a.column(), a.str("cidr_block"))),
    "is_valid_ipv6_address" -> (a => NetChecks.isValidIpv6Address(a.column())),
    "is_ipv6_address_in_cidr" -> (a => NetChecks.isIpv6AddressInCidr(a.column(), a.str("cidr_block"))),
    "is_data_fresh" -> (a => isDataFresh(a.column(), a.long("max_age_minutes", 0), a.strOpt("base_timestamp").map(col))),
    "is_valid_json" -> (a => isValidJson(a.column())),
    "has_json_keys" -> (a => hasJsonKeys(a.column(), a.strSeq("keys"), a.bool("require_all", true))),
    "has_valid_json_schema" -> (a => hasValidJsonSchema(a.column(), a.str("schema"))),
    "is_latitude" -> (a => isLatitude(a.column())),
    "is_longitude" -> (a => isLongitude(a.column())),
    "is_geometry" -> (a => GeoChecks.isGeometry(a.column())),
    "is_geography" -> (a => GeoChecks.isGeography(a.column())),
    "is_point" -> (a => GeoChecks.isPoint(a.column())),
    "is_linestring" -> (a => GeoChecks.isLineString(a.column())),
    "is_polygon" -> (a => GeoChecks.isPolygon(a.column())),
    "is_multipoint" -> (a => GeoChecks.isMultiPoint(a.column())),
    "is_multilinestring" -> (a => GeoChecks.isMultiLineString(a.column())),
    "is_multipolygon" -> (a => GeoChecks.isMultiPolygon(a.column())),
    "is_geometrycollection" -> (a => GeoChecks.isGeometryCollection(a.column())),
    "is_ogc_valid" -> (a => GeoChecks.isOgcValid(a.column())),
    "has_dimension" -> (a => GeoChecks.hasDimension(a.column(), a.int("dimension", 0))),
    "is_area_equal_to" -> (a => GeoChecks.isAreaEqualTo(a.column(), a.double("value", 0.0))),
    "is_area_not_equal_to" -> (a => GeoChecks.isAreaNotEqualTo(a.column(), a.double("value", 0.0))),
    "is_area_not_greater_than" -> (a => GeoChecks.isAreaNotGreaterThan(a.column(), a.double("value", 0.0))),
    "is_area_not_less_than" -> (a => GeoChecks.isAreaNotLessThan(a.column(), a.double("value", 0.0))),
    "is_num_points_equal_to" -> (a => GeoChecks.isNumPointsEqualTo(a.column(), a.int("value", 0))),
    "is_num_points_not_equal_to" -> (a => GeoChecks.isNumPointsNotEqualTo(a.column(), a.int("value", 0))),
    "is_num_points_not_greater_than" -> (a => GeoChecks.isNumPointsNotGreaterThan(a.column(), a.int("value", 0))),
    "is_num_points_not_less_than" -> (a => GeoChecks.isNumPointsNotLessThan(a.column(), a.int("value", 0))),
    "is_geo_contains" -> (a => GeoChecks.isGeoContains(a.column(), a.str("reference_geometry"))),
    // approximate=true (or the reference's H3 `resolution: N`) switches to
    // the envelope-grid cell-cover analog of the reference's H3 variant
    // (geo:1027); cell_size plays the resolution role. `resolution` maps to
    // a grid cell size shrinking ~7x in AREA per step like H3 cells do
    // (sqrt(7) per side). `precise: true` forces the exact path (the
    // default); `convert_column`/`convert_reference_geometry` are accepted
    // no-ops — WKT parsing is inherent here, there is no geometry type to
    // convert from.
    "is_geo_covers" -> (a =>
      if (geoApprox(a))
        GeoChecks.isGeoCoversApprox(a.column(), a.str("reference_geometry"), geoCellSize(a))
      else GeoChecks.isGeoCovers(a.column(), a.str("reference_geometry"))),
    "is_geo_intersects" -> (a =>
      if (geoApprox(a))
        GeoChecks.isGeoIntersectsApprox(a.column(), a.str("reference_geometry"), geoCellSize(a))
      else GeoChecks.isGeoIntersects(a.column(), a.str("reference_geometry"))),
    "is_geo_touches" -> (a => GeoChecks.isGeoTouches(a.column(), a.str("reference_geometry"))),
    "is_geo_within" -> (a => GeoChecks.isGeoWithin(a.column(), a.str("reference_geometry"))),
    "is_non_empty_geometry" -> (a => GeoChecks.isNonEmptyGeometry(a.column())),
    "is_not_null_island" -> (a => GeoChecks.isNotNullIsland(a.column())),
    "has_x_coordinate_between" -> (a => GeoChecks.hasXCoordinateBetween(a.column(), a.double("min_value", -180), a.double("max_value", 180))),
    "has_y_coordinate_between" -> (a => GeoChecks.hasYCoordinateBetween(a.column(), a.double("min_value", -90), a.double("max_value", 90))),
    "is_valid_lon_lat_point" -> (a => GeoChecks.isValidLonLatPoint(a.column())),
    "does_not_contain_pii" -> (a => PiiChecks.doesNotContainPii(a.column(),
      if (a.has("entities")) a.strSeq("entities") else PiiChecks.EntityPatterns.map(_._1),
      // ner_model_location: a trained PerceptronNerModel JSON on any
      // Hadoop-visible URI (model-as-data). ner_engine_class: FQCN of a
      // graft.checks.NerEngine with a no-arg constructor — the seam for a
      // Presidio-class model (same reflective convention as CheckProvider).
      a.strOpt("ner_model_location").map { loc =>
        new PerceptronNerEngine(PerceptronNerModelJson.load(
          org.apache.spark.sql.SparkSession.active, loc)): graft.checks.NerEngine
      }.orElse(a.strOpt("ner_engine_class").map { cls =>
        Class.forName(cls).getDeclaredConstructor().newInstance()
          .asInstanceOf[graft.checks.NerEngine]
      }).orElse(
        // r9 default: name detection works out of the box, like the
        // reference's bundled Presidio models — gazetteer first, committed
        // pretrained perceptron when the gazetteer finds nothing. Opt out
        // with use_ner: false (regex/checksum entities only).
        if (a.bool("use_ner", true)) Some(new graft.checks.DefaultNerEngine)
        else None)))
  )

  import DatasetChecks._
  private val datasetBuilders: Map[String, (CheckArgs, ResolveCtx) => DatasetCheck] = Map(
    "is_unique" -> ((a, _) => isUnique(a.strSeq("columns"), a.bool("nulls_distinct", true),
      a.strOpt("row_filter"), a.strOpt("strategy").getOrElse("auto"))),
    "foreign_key" -> ((a, ctx) => foreignKey(a.strSeq("columns"), a.strSeq("ref_columns"), ctx.ref(a),
      a.bool("negate", false), a.bool("null_safe", false), a.strOpt("row_filter"),
      a.strOpt("strategy").getOrElse("auto"))),
    "sql_query" -> ((a, ctx) => sqlQuery(a.str("query"), a.strSeq("merge_columns"), a.str("condition_column"),
      a.bool("negate", false), a.strOpt("input_placeholder").getOrElse("input_view"), ctx.refDfs, a.strOpt("row_filter"))),
    "is_aggr_not_greater_than" -> ((a, _) => isAggrNotGreaterThan(a.str("column"), a.any("limit"),
      a.strOpt("aggr_type").getOrElse("count"), a.strSeq("group_by"), a.strOpt("row_filter"))),
    "is_aggr_not_less_than" -> ((a, _) => isAggrNotLessThan(a.str("column"), a.any("limit"),
      a.strOpt("aggr_type").getOrElse("count"), a.strSeq("group_by"), a.strOpt("row_filter"))),
    "is_aggr_equal" -> ((a, _) => isAggrEqual(a.str("column"), a.any("limit"),
      a.strOpt("aggr_type").getOrElse("count"), a.strSeq("group_by"), a.strOpt("row_filter"),
      a.double("abs_tolerance", 0.0), a.double("rel_tolerance", 0.0))),
    "is_aggr_not_equal" -> ((a, _) => isAggrNotEqual(a.str("column"), a.any("limit"),
      a.strOpt("aggr_type").getOrElse("count"), a.strSeq("group_by"), a.strOpt("row_filter"),
      a.double("abs_tolerance", 0.0), a.double("rel_tolerance", 0.0))),
    "has_no_aggr_outliers" -> ((a, _) => hasNoAggrOutliers(a.str("column"), a.str("time_column"),
      a.strOpt("aggr_type").getOrElse("count"), a.double("sigma", 3.0),
      a.int("lookback_num_intervals", a.int("lookback", 10)),
      a.int("warmup_num_intervals", a.int("warmup", 3)),
      a.strOpt("time_interval").getOrElse("1 day"), a.strSeq("group_by"), a.strOpt("row_filter"))),
    "aggr_matches_dataset" -> ((a, ctx) => aggrMatchesDataset(a.str("column"), ctx.ref(a),
      a.strOpt("ref_column").getOrElse(a.str("column")), a.strOpt("aggr_type").getOrElse("count"),
      a.strSeq("group_by"), a.strSeq("ref_group_by"), a.strOpt("row_filter"), a.strOpt("ref_row_filter"),
      a.double("abs_tolerance", 0.0), a.double("rel_tolerance", 0.0))),
    "compare_datasets" -> ((a, ctx) => compareDatasets(a.strSeq("columns"), a.strSeq("ref_columns"), ctx.ref(a),
      a.bool("check_missing_records", false), a.strSeq("exclude_columns"),
      a.bool("null_safe_row_matching", true), a.bool("null_safe_column_value_matching", true),
      a.double("abs_tolerance", 0.0), a.double("rel_tolerance", 0.0),
      a.bool("hash_prefilter", true), a.int("max_collected_diffs", 1000000),
      a.long("max_prefilter_bytes", 128L * 1024 * 1024), a.bool("cache_input", false),
      a.bool("ref_keys_unique", false))),
    "is_data_fresh_per_time_window" -> ((a, _) => isDataFreshPerTimeWindow(a.str("column"),
      a.int("window_minutes", 60), a.long("min_records_per_window", 1),
      if (a.has("lookback_windows")) Some(a.int("lookback_windows", 0)) else None,
      a.strOpt("row_filter"), a.strOpt("curr_timestamp").map(col))),
    "has_no_gaps_per_time_window" -> ((a, _) => hasNoGapsPerTimeWindow(a.str("column"),
      a.int("window_minutes", 60), a.strSeq("group_by"),
      if (a.has("trailing_gap_minutes")) Some(a.int("trailing_gap_minutes", 0)) else None,
      a.strOpt("curr_timestamp").map(col))),
    "has_no_outliers" -> ((a, _) => hasNoOutliers(a.str("column"), a.double("factor", 3.5),
      a.bool("exact", false), a.strOpt("row_filter"))),
    "has_valid_schema" -> ((a, _) => hasValidSchema(a.str("expected_schema"), a.bool("strict", false),
      a.strSeq("columns"), a.strSeq("exclude_columns"))),
    "has_no_row_anomalies" -> ((a, ctx) => {
      // reference 0.15.0 argument surface (anomaly/check_funcs.py:119-131):
      // enable_contributions / enable_ai_explanation default True,
      // enable_confidence_std defaults False; AI explanations REQUIRE
      // contributions (disabled with the reference's warning semantics
      // when contributions are off, check_funcs.py:81-93). max_groups is
      // validated like the reference but only budgets LLM calls — a
      // column-expression explainer makes no per-group calls, so it is a
      // documented no-op here; ai_explanation_llm_model_config is accepted
      // (Databricks serving-endpoint config) and unused by the default
      // explainer.
      val enableContributions = a.bool("enable_contributions", true)
      val enableConfidenceStd = a.bool("enable_confidence_std", false)
      val aiExplanationRequested = a.bool("enable_ai_explanation", true)
      if (aiExplanationRequested && !enableContributions)
        // the reference logs this downgrade (_resolve_ai_explanation_flag,
        // anomaly/check_funcs.py:81-93) rather than silently disabling
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "enable_ai_explanation=True requires enable_contributions=True; " +
            "disabling AI explanations because contributions are disabled.")
      val enableAiExplanation = aiExplanationRequested && enableContributions
      val maxGroups = a.int("max_groups", 500)
      require(maxGroups > 0, "max_groups must be a positive integer")
      // dict form validated against the reference's LLMModelConfig field set
      // so typos surface early (check_funcs.py:30-50); the values are
      // serving-endpoint config a custom explainer may read
      a.args.get("ai_explanation_llm_model_config").foreach {
        case m: Map[_, _] =>
          val allowed = Set("model_name", "api_key", "api_base",
            "max_tokens", "temperature", "timeout", "max_retries")
          val unknown = m.keySet.map(String.valueOf) -- allowed
          require(unknown.isEmpty,
            s"ai_explanation_llm_model_config has unknown keys: ${unknown.toSeq.sorted.mkString(", ")}. " +
              s"Allowed keys: ${allowed.toSeq.sorted.mkString(", ")}.")
        case other => throw new IllegalArgumentException(
          "ai_explanation_llm_model_config must be a mapping with keys " +
            "{model_name, api_key, api_base, max_tokens, temperature, timeout, max_retries}; " +
            s"got $other")
      }
      val redact = a.strSeq("redact_columns")
      require(redact.forall(_.nonEmpty), "redact_columns must be non-empty column names")
      val explainer: graft.anomaly.AnomalyExplainer =
        if (enableAiExplanation)
          a.strOpt("anomaly_explainer_class").map(graft.anomaly.AnomalyExplainer.forName)
            .getOrElse(new graft.anomaly.NullAnomalyExplainer)
        else new graft.anomaly.NullAnomalyExplainer
      a.strOpt("method").getOrElse("zscore") match {
        case "isolation_forest_pretrained" => hasNoRowAnomaliesPretrained(
          graft.anomaly.ModelRegistry.load(ctx.spark, a.str("model_location")),
          a.double("threshold", 99.0), a.strOpt("row_filter"),
          enableContributions = enableContributions,
          enableConfidenceStd = enableConfidenceStd,
          explainer = explainer, redactColumns = redact)
        case "isolation_forest" => hasNoRowAnomaliesIForest(a.strSeq("columns"),
          a.double("threshold", 99.0), a.int("num_trees", 100), a.int("subsample_size", 256),
          a.int("train_rows", 10000), a.long("seed", 42L), a.strOpt("row_filter"),
          enableContributions = enableContributions,
          enableConfidenceStd = enableConfidenceStd,
          explainer = explainer, redactColumns = redact)
        case _ => hasNoRowAnomalies(a.strSeq("columns"),
          a.double("threshold", 3.5), a.strOpt("row_filter"),
          enableContributions = enableContributions,
          explainer = explainer, redactColumns = redact)
      }
    }),
    "has_no_drift" -> ((a, ctx) => {
      // baseline inline ({"col": {"mean": m, "std": s}}) or from a stored
      // anomaly model record (model_location)
      val baseline: Map[String, graft.anomaly.Drift.ColumnStats] =
        if (a.has("model_location"))
          graft.anomaly.ModelRegistry.load(ctx.spark, a.str("model_location")).baselineStats
        else a.any("baseline") match {
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]].map {
            case (c, stats: Map[_, _]) =>
              val sm = stats.asInstanceOf[Map[String, Any]]
              c -> graft.anomaly.Drift.ColumnStats(
                String.valueOf(sm("mean")).toDouble, String.valueOf(sm("std")).toDouble)
            case (c, other) => throw new IllegalArgumentException(
              s"has_no_drift baseline for '$c' must be a {mean, std} map, got $other")
          }
          case other => throw new IllegalArgumentException(
            s"has_no_drift: 'baseline' must be a map, got $other")
        }
      hasNoDrift(
        if (a.has("columns")) a.strSeq("columns") else baseline.keys.toSeq.sorted,
        baseline, a.double("threshold", 3.0),
        a.double("min_sample_size",
          graft.anomaly.Drift.MinSampleSizeForDrift.toDouble).toLong,
        a.strOpt("row_filter"))
    }),
    "are_polygons_mutually_disjoint" -> ((a, _) =>
      GeoChecks.arePolygonsMutuallyDisjoint(a.str("column"), a.strOpt("row_filter"),
        a.double("cell_size", 4.0), a.int("max_cell_geoms", 256),
        a.int("max_refine_levels", 12))),
    "are_points_mutually_disjoint" -> ((a, _) =>
      GeoChecks.arePointsMutuallyDisjoint(a.str("column"), a.strOpt("row_filter")))
  )

  private val custom = scala.collection.concurrent.TrieMap[String, CheckFn]()

  /** Register a custom check function by name (checks_resolver.py:36-109). */
  def register(name: String, fn: CheckFn): Unit = custom.put(name, fn)

  /** Load a [[CheckProvider]] by fully-qualified class name (Scala object or
    * zero-arg class) and register every check it bundles. Returns the
    * registered names. The classpath analogue of the reference's module-path
    * resolution (checks_resolver.py:76-109).
    */
  def registerFromClass(fqcn: String): Seq[String] = {
    val provider = instantiateProvider(fqcn)
    provider.checks.foreach { case (n, f) => register(n, f) }
    provider.checks.keys.toSeq
  }

  private def instantiateProvider(fqcn: String): CheckProvider = {
    val instance = scala.util.Try {
      // Scala object: companion class with a MODULE$ field
      Class.forName(fqcn + "$").getField("MODULE$").get(null)
    }.orElse(scala.util.Try {
      Class.forName(fqcn).getDeclaredConstructor().newInstance()
    }).getOrElse(throw new IllegalArgumentException(
      s"Cannot load check provider '$fqcn': not a Scala object or zero-arg class on the classpath"))
    instance match {
      case p: CheckProvider => p
      case other => throw new IllegalArgumentException(
        s"'$fqcn' (${other.getClass.getName}) does not implement graft.rules.CheckProvider")
    }
  }

  /** `com.example.Provider#check_name` resolves through the provider's bundle
    * (loaded once, then cached in the custom registry under the full name).
    */
  private def resolveQualified(name: String): Option[CheckFn] = {
    val idx = name.indexOf('#')
    if (idx <= 0) None
    else {
      val (fqcn, fn) = (name.substring(0, idx), name.substring(idx + 1))
      scala.util.Try(instantiateProvider(fqcn)).toOption
        .flatMap(_.checks.get(fn))
        .map { f => custom.putIfAbsent(name, f); f }
    }
  }

  def resolve(name: String): CheckFn =
    custom.get(name)
      .orElse(rowBuilders.get(name).map(RowCheckFn))
      .orElse(datasetBuilders.get(name).map(b => DatasetCheckFn(b)))
      .orElse(resolveQualified(name))
      .getOrElse(throw new IllegalArgumentException(s"Unknown check function: $name"))
}
