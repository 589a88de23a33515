package graft.checks

import graft.core.CheckUtils._
import graft.core.HoistedConstant
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Row-level checks: each compiles to a single Catalyst `Column` that is NULL
  * when the row passes and a failure-message string when it fails
  * (SURVEY §2.1; reference dqx/check_funcs.py).
  *
  * All pure expressions — codegen-friendly, no UDFs. The reference's pandas-UDF
  * IPv6 checks are replaced by pure bit-math expressions (NetChecks).
  */
object RowChecks {

  private def strVal(c: Column, trim: Boolean): Column = {
    val s = c.cast("string")
    if (trim) trim_(s) else s
  }
  private def trim_(c: Column): Column = org.apache.spark.sql.functions.trim(c)

  /** check_funcs.py:169 — null or empty-string fails. */
  def isNotNullAndNotEmpty(c: Column, trimStrings: Boolean = false): Column =
    makeCondition(c.isNull || strVal(c, trimStrings) === "",
      concat(lit("Column '"), lit(c.toString), lit("' value is null or empty")))

  /** check_funcs.py:189 — empty string fails, null passes. */
  def isNotEmpty(c: Column, trimStrings: Boolean = false): Column =
    makeCondition(strVal(c, trimStrings) === "",
      concat(lit("Column '"), lit(c.toString), lit("' value is empty")))

  /** check_funcs.py:207 */
  def isNotNull(c: Column): Column =
    makeCondition(c.isNull, concat(lit("Column '"), lit(c.toString), lit("' value is null")))

  /** check_funcs.py:221 */
  def isNull(c: Column): Column =
    makeCondition(c.isNotNull, concat(lit("Column '"), lit(c.toString), lit("' value is not null")))

  /** check_funcs.py:237 — non-empty fails. */
  def isEmpty(c: Column, trimStrings: Boolean = false): Column =
    makeCondition(strVal(c, trimStrings) =!= "",
      concat(lit("Column '"), lit(c.toString), lit("' value is not empty")))

  /** check_funcs.py:255 — non-(null-or-empty) fails. */
  def isNullOrEmpty(c: Column, trimStrings: Boolean = false): Column =
    makeCondition(c.isNotNull && strVal(c, trimStrings) =!= "",
      concat(lit("Column '"), lit(c.toString), lit("' value is not null or empty")))

  /** check_funcs.py:277 — string not in the given case fails. */
  def hasValidStringCase(c: Column, caseType: String = "upper"): Column = {
    val s = c.cast("string")
    val expected = caseType.toLowerCase match {
      case "upper" => upper(s)
      case "lower" => lower(s)
      case "title" => initcap(s)
      case "sentence" =>
        concat(upper(substring(s, 1, 1)), lower(s.substr(lit(2), length(s))))
      case other => throw new IllegalArgumentException(s"Unknown case type: $other")
    }
    makeCondition(c.isNotNull && s =!= expected,
      concat(lit(s"Column '${c.toString}' value '"), valueText(c), lit(s"' is not in $caseType case")))
  }

  private def inListCore(c: Column, allowed: Seq[Any], caseSensitive: Boolean): Column = {
    if (caseSensitive) c.isin(allowed: _*)
    else lower(c.cast("string")).isin(allowed.map(v => String.valueOf(v).toLowerCase): _*)
  }

  /** check_funcs.py:352 — null or not-in-list fails. */
  def isNotNullAndIsInList(c: Column, allowed: Seq[Any], caseSensitive: Boolean = true): Column =
    makeCondition(c.isNull || !inListCore(c, allowed, caseSensitive),
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is null or not in the allowed list")))

  /** check_funcs.py:406 — non-null not-in-list fails (null passes). */
  def isInList(c: Column, allowed: Seq[Any], caseSensitive: Boolean = true): Column =
    makeCondition(c.isNotNull && !inListCore(c, allowed, caseSensitive),
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is not in the allowed list")))

  /** check_funcs.py:464 — in-forbidden-list fails. */
  def isNotInList(c: Column, forbidden: Seq[Any], caseSensitive: Boolean = true): Column =
    makeCondition(c.isNotNull && inListCore(c, forbidden, caseSensitive),
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is in the forbidden list")))

  /** check_funcs.py:521 — arbitrary boolean SQL expression; fail when FALSE
    * (or when TRUE if negate). A NULL-valued expression passes in both
    * branches, matching the reference (make_condition wraps the raw condition;
    * when(NULL, msg) -> NULL -> pass). Escape hatch — caller-trusted source.
    */
  def sqlExpression(expression: String, msg: Option[String] = None, negate: Boolean = false): Column = {
    requireSafeSql(expression, "SQL expression")
    val e = expr(expression)
    val failCond = if (negate) e else !e
    makeCondition(failCond, msg.getOrElse(s"Value is not matching expression: $expression"))
  }

  /** check_funcs.py:567 — col1 older than col2 by at least n days. */
  def isOlderThanCol2ForNDays(col1: Column, col2: Column, days: Int, negate: Boolean = false): Column = {
    val diff = datediff(col2.cast("date"), col1.cast("date"))
    val cond = if (negate) diff < days else diff >= days
    makeCondition(col1.isNotNull && col2.isNotNull && cond,
      concat(lit(s"Value of '${col1.toString}': '"), valueText(col1),
        lit(s"' ${if (negate) "is not" else "is"} older than value of '${col2.toString}': '"),
        valueText(col2), lit(s"' for $days or more days")))
  }

  /** check_funcs.py:617 — age vs current (or given) date. */
  def isOlderThanNDays(c: Column, days: Int, currDate: Option[Column] = None, negate: Boolean = false): Column = {
    val cur = currDate.getOrElse(current_date())
    val diff = datediff(cur.cast("date"), c.cast("date"))
    val cond = if (negate) diff < days else diff >= days
    makeCondition(c.isNotNull && cond,
      concat(lit(s"Value of '${c.toString}': '"), valueText(c),
        lit(s"' ${if (negate) "is not" else "is"} older than $days or more days")))
  }

  /** check_funcs.py:668 — timestamp further than offset seconds in the future
    * fails. Interval arithmetic preserves sub-second precision (the reference
    * uses make_interval; unix_timestamp would truncate to seconds).
    */
  def isNotInFuture(c: Column, offsetSeconds: Long = 0, currTimestamp: Option[Column] = None): Column = {
    val now = currTimestamp.getOrElse(current_timestamp())
    val bound = HoistedConstant(now + expr(s"INTERVAL $offsetSeconds SECOND"))
    makeCondition(c.isNotNull && c > bound,
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is in the future")))
  }

  /** check_funcs.py:702 — now < ts < now+offset fails. */
  def isNotInNearFuture(c: Column, offsetSeconds: Long = 0, currTimestamp: Option[Column] = None): Column = {
    val now = currTimestamp.getOrElse(current_timestamp())
    val bound = HoistedConstant(now + expr(s"INTERVAL $offsetSeconds SECOND"))
    makeCondition(c.isNotNull && c > HoistedConstant(now) && c < bound,
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is in the near future")))
  }

  /** check_funcs.py:739 — not-equal fails. */
  def isEqualTo(c: Column, value: Any): Column =
    makeCondition(c.isNotNull && c =!= limitExpr(value),
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is not equal to ${limitText(value)}")))

  /** check_funcs.py:794 — equal fails. */
  def isNotEqualTo(c: Column, value: Any): Column =
    makeCondition(c.isNotNull && c === limitExpr(value),
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is equal to ${limitText(value)}")))

  /** check_funcs.py:850 — less-than-limit fails. */
  def isNotLessThan(c: Column, limit: Any): Column =
    makeCondition(c.isNotNull && c < limitExpr(limit),
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is less than limit ${limitText(limit)}")))

  /** check_funcs.py:880 — greater-than-limit fails. */
  def isNotGreaterThan(c: Column, limit: Any): Column =
    makeCondition(c.isNotNull && c > limitExpr(limit),
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is greater than limit ${limitText(limit)}")))

  /** check_funcs.py:910 — outside [min,max] fails. */
  def isInRange(c: Column, minLimit: Any, maxLimit: Any): Column =
    makeCondition(c.isNotNull && (c < limitExpr(minLimit) || c > limitExpr(maxLimit)),
      concat(lit(s"Value '"), valueText(c),
        lit(s"' in column '${c.toString}' not in range: [${limitText(minLimit)}, ${limitText(maxLimit)}]")))

  /** check_funcs.py:948 — inside [min,max] fails. */
  def isNotInRange(c: Column, minLimit: Any, maxLimit: Any): Column =
    makeCondition(c.isNotNull && c >= limitExpr(minLimit) && c <= limitExpr(maxLimit),
      concat(lit(s"Value '"), valueText(c),
        lit(s"' in column '${c.toString}' in forbidden range: [${limitText(minLimit)}, ${limitText(maxLimit)}]")))

  /** check_funcs.py:986 — no regex match fails (negate flips). */
  def regexMatch(c: Column, regex: String, negate: Boolean = false): Column = {
    val matches = c.cast("string").rlike(regex)
    val cond = if (negate) matches else !matches
    makeCondition(c.isNotNull && cond,
      concat(lit(s"Column '${c.toString}' value '"), valueText(c),
        lit(s"' ${if (negate) "matches" else "does not match"} regex: $regex")))
  }

  /** check_funcs.py:1009 — null or empty array fails. */
  def isNotNullAndNotEmptyArray(c: Column): Column =
    makeCondition(c.isNull || size(c) === 0,
      concat(lit(s"Column '${c.toString}' value is null or empty array")))

  /** check_funcs.py:1026 — unparseable date fails. */
  def isValidDate(c: Column, dateFormat: Option[String] = None): Column = {
    val parsed = dateFormat.map(f => try_to_timestamp(c.cast("string"), lit(f)).cast("date"))
      .getOrElse(c.try_cast("date"))
    makeCondition(c.isNotNull && parsed.isNull,
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is not a valid date"),
        lit(dateFormat.map(f => s" with format '$f'").getOrElse(""))))
  }

  /** check_funcs.py:1050 — unparseable timestamp fails. */
  def isValidTimestamp(c: Column, tsFormat: Option[String] = None): Column = {
    val parsed = tsFormat.map(f => try_to_timestamp(c.cast("string"), lit(f)))
      .getOrElse(c.try_cast("timestamp"))
    makeCondition(c.isNotNull && parsed.isNull,
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is not a valid timestamp"),
        lit(tsFormat.map(f => s" with format '$f'").getOrElse(""))))
  }

  /** dqx DQPattern.IPV4_ADDRESS (check_funcs.py:87). */
  val Ipv4Regex: String =
    "^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$"

  /** check_funcs.py:1078 — decided by the [[Ipv4Valid]] byte-scan kernel, an
    * exact semantics replay of `rlike(Ipv4Regex)` (differential-fuzz-pinned in
    * Ipv4KernelSpec): the regex engine cost ~0.9 s of the 10M-row suite for a
    * grammar a codegen'd scan decides allocation-free.
    */
  def isValidIpv4Address(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    val valid = GraftColumnBridge.column(Ipv4Valid(
      GraftColumnBridge.expression(c.cast("string"))))
    makeCondition(c.isNotNull && !valid,
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is not a valid IPv4 address")))
  }

  /** RFC-5322 subset, ReDoS-safe (check_funcs.py:92-107). */
  val EmailRegex: String =
    "^[A-Za-z0-9!#$%&'*+/=?^_`{|}~.-]+@[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?(?:\\.[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?)+$"

  /** check_funcs.py:1091 */
  def isValidEmail(c: Column): Column =
    makeCondition(c.isNotNull && !c.cast("string").rlike(EmailRegex),
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is not a valid email address")))

  /** Per-country national-ID patterns (check_funcs.py:109-120 defines only the
    * US SSN; the other public-format patterns extend the registry the way the
    * reference documents — regex shape only, no checksum validation).
    */
  val NationalIdPatterns: Map[String, String] = Map(
    // SSN with consistent separator via backreference, invalid ranges excluded
    "us" -> "^(?!000|666|9\\d{2})\\d{3}([- ]?)(?!00)\\d{2}\\1(?!0000)\\d{4}$",
    "uk" -> "^[A-CEGHJ-PR-TW-Z]{2}\\d{6}[A-D]$",
    "ca" -> "^\\d{3}-\\d{3}-\\d{3}$",
    "de" -> "^\\d{11}$",
    "fr" -> "^[12]\\d{2}(0[1-9]|1[0-2])\\d{2}\\d{3}\\d{3}\\d{2}$",
    "in" -> "^[2-9]\\d{3}\\s\\d{4}\\s\\d{4}$",
    "au" -> "^\\d{3}-\\d{3}-\\d{3}$",
    "it" -> "^[A-Z]{6}\\d{2}[A-EHLMPR-T]\\d{2}[A-Z]\\d{3}[A-Z]$", // codice fiscale shape
    "es" -> "^(\\d{8}[A-Z]|[XYZ]\\d{7}[A-Z])$", // DNI / NIE
    "nl" -> "^\\d{9}$", // BSN
    "se" -> "^(\\d{6}|\\d{8})[-+]?\\d{4}$", // personnummer
    "pl" -> "^\\d{11}$", // PESEL
    "br" -> "^(\\d{3}\\.\\d{3}\\.\\d{3}-\\d{2}|\\d{11})$", // CPF
    "mx" -> "^[A-Z]{4}\\d{6}[HM][A-Z]{5}[A-Z0-9]\\d$", // CURP
    "jp" -> "^\\d{4}\\s?\\d{4}\\s?\\d{4}$" // My Number
  )

  /** check_funcs.py:1124 */
  def isValidNationalId(c: Column, country: String): Column = {
    val re = NationalIdPatterns.getOrElse(country.toLowerCase,
      throw new IllegalArgumentException(s"No national-id pattern for country: $country"))
    makeCondition(c.isNotNull && !c.cast("string").rlike(re),
      concat(lit(s"Value '"), valueText(c),
        lit(s"' in column '${c.toString}' is not a valid $country national id")))
  }

  private def isoListCheck(c: Column, codes: Seq[String], caseSensitive: Boolean, what: String): Column = {
    val in = if (caseSensitive) c.cast("string").isin(codes: _*)
             else upper(c.cast("string")).isin(codes.map(_.toUpperCase): _*)
    makeCondition(c.isNotNull && !in,
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is not a valid $what")))
  }

  /** check_funcs.py:1323 — ISO 3166-1 (alpha-2 / alpha-3 / numeric). */
  def isValidCountryCode(c: Column, codeFormat: String = "alpha2", caseSensitive: Boolean = true): Column = {
    val codes = codeFormat.toLowerCase match {
      case "alpha2" | "alpha-2" => IsoCodes.countryAlpha2
      case "alpha3" | "alpha-3" => IsoCodes.countryAlpha3
      case "numeric" => IsoCodes.countryNumeric
      case other => throw new IllegalArgumentException(s"Unknown country code format: $other")
    }
    isoListCheck(c, codes, caseSensitive, s"ISO 3166-1 $codeFormat country code")
  }

  /** check_funcs.py:1367 — ISO 4217. */
  /** check_funcs.py:1367 — ISO 4217, `alphabetic` (default) or `numeric`
    * (three-digit zero-padded, so a non-string column loses leading zeros
    * and should be formatted upstream — same caveat as country numeric).
    */
  def isValidCurrencyCode(c: Column, codeFormat: String = "alphabetic",
                          caseSensitive: Boolean = true): Column = {
    val codes = codeFormat.toLowerCase match {
      case "alphabetic" => IsoCodes.currency
      case "numeric" => IsoCodes.currencyNumeric
      case other => throw new IllegalArgumentException(s"Unknown currency code format: $other")
    }
    isoListCheck(c, codes, caseSensitive, s"ISO 4217 $codeFormat currency code")
  }

  /** check_funcs.py:1516 — ISO 639: `alpha-2` (639-1, default) or `alpha-3`
    * (the full 639-3 registry). Registry codes are lowercase, so
    * caseSensitive=true rejects uppercase input (reference ditto).
    */
  def isValidLanguageCode(c: Column, codeFormat: String = "alpha-2",
                          caseSensitive: Boolean = true): Column = {
    val (codes, standard) = codeFormat.toLowerCase match {
      case "alpha2" | "alpha-2" => (IsoCodes.language639_1, "ISO 639-1")
      case "alpha3" | "alpha-3" => (IsoCodes.language639_3, "ISO 639-3")
      case other => throw new IllegalArgumentException(s"Unknown language code format: $other")
    }
    val in = if (caseSensitive) c.cast("string").isin(codes: _*)
             else lower(c.cast("string")).isin(codes: _*)
    makeCondition(c.isNotNull && !in,
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is not a valid $standard language code")))
  }

  /** check_funcs.py:1437 — ISO 3166-2 subdivision codes (subset registry). */
  def isValidSubdivisionCode(c: Column, country: String, caseSensitive: Boolean = true): Column = {
    val codes = IsoCodes.subdivisions.getOrElse(country.toUpperCase,
      throw new IllegalArgumentException(s"No subdivision codes for country: $country"))
    isoListCheck(c, codes, caseSensitive, s"ISO 3166-2 subdivision code of $country")
  }

  /** check_funcs.py:1701 — col older than maxAgeMinutes vs base timestamp fails. */
  def isDataFresh(c: Column, maxAgeMinutes: Long, baseTimestamp: Option[Column] = None): Column = {
    val base = baseTimestamp.getOrElse(current_timestamp())
    val bound = HoistedConstant(base - expr(s"INTERVAL $maxAgeMinutes MINUTE"))
    makeCondition(c.isNotNull && c < bound,
      concat(lit(s"Value '"), valueText(c),
        lit(s"' in column '${c.toString}' is older than $maxAgeMinutes minutes")))
  }

  /** One fused parse shared by the JSON checks via CSE ([[JsonInfoExpr]];
    * semantics parity with try_parse_json/json_object_keys pinned by
    * JsonInfoSpec's differential corpus).
    */
  private def jsonInfo(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(JsonInfoExpr(
      org.apache.spark.sql.GraftColumnBridge.expression(c.cast("string"))))

  /** check_funcs.py:3338 — invalid JSON fails (try_parse_json acceptance). */
  def isValidJson(c: Column): Column =
    makeCondition(c.isNotNull && !jsonInfo(c).getField("valid"),
      concat(lit(s"Value in column '${c.toString}' is not valid JSON")))

  /** check_funcs.py:3362 — outer JSON object lacks required keys. */
  def hasJsonKeys(c: Column, keys: Seq[String], requireAll: Boolean = true): Column = {
    val present = jsonInfo(c).getField("keys")
    val wanted = array(keys.map(lit): _*)
    val missing = array_except(wanted, coalesce(present, array()))
    val failCond =
      if (requireAll) size(missing) > 0
      else !arrays_overlap(wanted, coalesce(present, array()))
    makeCondition(c.isNotNull && failCond,
      concat(lit(s"Value in column '${c.toString}' is missing JSON keys: "),
        coalesce(concat_ws(",", missing), lit(""))))
  }

  /** check_funcs.py:3414 — JSON does not conform to the given DDL schema:
    * corrupt-record probe + recursive non-null presence checks for fields
    * declared NOT NULL in the schema.
    */
  def hasValidJsonSchema(c: Column, ddlSchema: String): Column = {
    // both DDL spellings are accepted (reference ditto): a bare field list
    // ("a BIGINT, b BIGINT") or the wrapped form ("STRUCT<a: BIGINT, ...>")
    val schema =
      try org.apache.spark.sql.types.StructType.fromDDL(ddlSchema)
      catch {
        case e: org.apache.spark.sql.catalyst.parser.ParseException =>
          org.apache.spark.sql.types.DataType.fromDDL(ddlSchema) match {
            case st: org.apache.spark.sql.types.StructType => st
            case _ => throw e
          }
      }
    import org.apache.spark.sql.types.{StructType => ST}
    val corruptField = "__corrupt_record"
    val schemaWithCorrupt = ST(schema.fields :+ org.apache.spark.sql.types.StructField(
      corruptField, org.apache.spark.sql.types.StringType))
    val parsed = from_json(c.cast("string"), schemaWithCorrupt,
      Map("columnNameOfCorruptRecord" -> corruptField))
    def presence(prefix: Column, st: ST): Seq[Column] =
      st.fields.toSeq.filterNot(_.name == corruptField).flatMap { f =>
        val fc = prefix.getField(f.name)
        val self = if (!f.nullable) Seq(fc.isNull) else Seq.empty
        f.dataType match {
          case nested: ST => self ++ presence(fc, nested).map(fc.isNotNull && _)
          case _ => self
        }
      }
    val requiredNulls = presence(parsed, schemaWithCorrupt)
    val bad = parsed.isNull || parsed.getField(corruptField).isNotNull ||
      requiredNulls.foldLeft(lit(false))(_ || _)
    makeCondition(c.isNotNull && bad,
      lit(s"Value in column '${c.toString}' does not conform to JSON schema: $ddlSchema"))
  }

  /** geo/check_funcs.py:63/:86 — latitude/longitude bounds (pure expressions). */
  def isLatitude(c: Column): Column =
    makeCondition(c.isNotNull && !c.try_cast("double").between(-90d, 90d),
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is not a valid latitude")))

  def isLongitude(c: Column): Column =
    makeCondition(c.isNotNull && !c.try_cast("double").between(-180d, 180d),
      concat(lit(s"Value '"), valueText(c), lit(s"' in column '${c.toString}' is not a valid longitude")))
}
