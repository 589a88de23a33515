package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs and rule sets. Every value is a pure function of
  * (seed, row id), so one seed always yields the same frames and rules.
  *
  * Input shape: the reference perf schema (col1..col10, ipv4/ipv6/json/geo
  * strings) plus a `row_id` key that the compare_datasets snapshot joins on.
  *
  * Planted failures:
  *  - each row draws at most one ROW defect; each of the 14 kinds hits 3.5%
  *    of rows, so about 51% of rows are clean and every defect breaks one to
  *    four of the 24 row rules;
  *  - independently, each row draws at most one DATASET defect (2% each):
  *    duplicate composite key, dangling foreign key, changed or missing row in
  *    the compare snapshot, or a timestamp in a spike year.
  */
object Gen {

  /** One rule: its metadata and the plain SQL predicate that is TRUE exactly
    * when a row must carry this rule's name in `_errors`/`_warnings`.
    * Dataset rules leave `predicate` empty; their expected rows come from
    * [[Expected.datasetQueries]].
    */
  final case class RuleDef(name: String, criticality: String, function: String,
                           args: Seq[(String, Any)], predicate: String)

  // ---------------------------------------------------------------- input

  private def u(seed: Long, salt: Int): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(1000000L)).cast("double") / 1e6

  private def hv(seed: Long, salt: Int, mod: Long): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(mod))

  /** Row defect kinds, 3.5% of rows each (index = kind). */
  val RowDefects: Seq[String] = Seq(
    "col1 null", "col_ipv6 empty", "col3 = 1000", "col2 = -5", "col2 = 5000000",
    "col4 empty array", "col5 in 2090", "col6 in 2090", "col_ipv4 first octet 300",
    "col_ipv4 outside 10.0.0.0/8", "col_json_str truncated", "col_json_str without key2",
    "col_geo_point POINT(0 0)", "col_geo_point LINESTRING")
  val RowDefectRate = 0.035

  /** Dataset defect kinds, 2% of rows each. */
  val DatasetDefects: Seq[String] = Seq(
    "duplicate (col2, col10)", "col1 missing from ref", "col3 changed in snapshot",
    "row missing from snapshot", "col6 in the 1990 spike window")
  val DatasetDefectRate = 0.02

  /** All columns plus the defect draws (`__k`, `__dk`) the snapshot needs. */
  private def raw(spark: SparkSession, rows: Long, seed: Long, parts: Int): DataFrame = {
    val k0 = u(seed, 0)
    val d0 = u(seed, 1)
    val k = when(k0 < RowDefects.size * RowDefectRate, floor(k0 / RowDefectRate)).otherwise(lit(-1L))
    val dk = when(d0 < DatasetDefects.size * DatasetDefectRate, floor(d0 / DatasetDefectRate))
      .otherwise(lit(-1L))
    val octets = (8 to 10).map(s => hv(seed, s, 256).cast("string"))
    val hexGroups = (11 to 18).map(s => lpad(hex(hv(seed, s, 65536)), 4, "0"))
    spark.range(0L, rows, 1L, parts)
      .select(col("id"), k.as("__k"), dk.as("__dk"))
      .select(col("*"),
        col("id").as("row_id"),
        when(col("__k") === 0, lit(null))
          .when(col("__dk") === 1, lit(rows) + hv(seed, 2, 1000))
          .otherwise(hv(seed, 2, rows)).cast("int").as("col1"),
        when(col("__k") === 3, lit(-5L)).when(col("__k") === 4, lit(5000000L))
          .when(col("__dk") === 0, lit(3500000L) + hv(seed, 3, 50))
          .otherwise(hv(seed, 3, 3456789L)).cast("int").as("col2"),
        when(col("__k") === 2, lit(1000L)).otherwise(hv(seed, 4, 97)).cast("int").as("col3"),
        when(col("__dk") === 0, lit(0L)).otherwise(hv(seed, 5, 2147483L)).cast("int").as("col10"),
        when(col("__k") === 6, date_add(lit("2090-01-01").cast("date"), hv(seed, 6, 365).cast("int")))
          .otherwise(date_add(lit("1900-01-01").cast("date"), hv(seed, 6, 45000).cast("int"))).as("col5"),
        when(col("__k") === 7, timestamp_seconds(lit(3786912000L) + hv(seed, 7, 30000000L)))
          .when(col("__dk") === 4, timestamp_seconds(lit(636249600L) + hv(seed, 7, 2592000L)))
          .otherwise(timestamp_seconds(lit(-2208988800L) + hv(seed, 7, 3900000000L))).as("col6"),
        concat_ws(".",
          when(col("__k") === 8, lit("300")).when(col("__k") === 9, lit("11")).otherwise(lit("10")),
          octets(0), octets(1), octets(2)).as("col_ipv4"),
        when(col("__k") === 1, lit("")).otherwise(concat_ws(":", hexGroups: _*)).as("col_ipv6"),
        when(col("__k") === 10, format_string("{\"key1\": \"v%d\", \"key2\": ", hv(seed, 19, 1000)))
          .when(col("__k") === 11, format_string("{\"key1\": \"v%d\"}", hv(seed, 19, 1000)))
          .otherwise(format_string("{\"key1\": \"v%d\", \"key2\": \"d%d\"}",
            hv(seed, 19, 1000), hv(seed, 20, 97))).as("col_json_str"),
        when(col("__k") === 12, lit("POINT(0 0)"))
          .when(col("__k") === 13, lit("LINESTRING(4.9 52.3, 4.8 52.2)"))
          .otherwise(format_string("POINT(%.4f %.4f)", lit(4.5) + u(seed, 21) * 0.8,
            lit(51.9) + u(seed, 22) * 0.5)).as("col_geo_point"))
      .select(col("*"),
        when(col("__k") === 5, array().cast("array<int>"))
          .otherwise(array(col("col1"), col("col2"))).as("col4"),
        map(lit("key"), col("col2")).as("col7"),
        struct(col("col1").as("field1")).as("col8"))
  }

  val PerfColumns: Seq[String] = Seq("row_id", "col1", "col2", "col3", "col4", "col5", "col6",
    "col7", "col8", "col10", "col_ipv4", "col_ipv6", "col_json_str", "col_geo_point")

  /** The reference perf frame (FIXTURES.md section 1) with planted failures. */
  def perfDf(spark: SparkSession, rows: Long, seed: Long, parts: Int): DataFrame =
    raw(spark, rows, seed, parts).select(PerfColumns.map(col): _*)

  /** The reference FK/aggregate target: ref_col1..3 = 0 until rows. */
  def refDf(spark: SparkSession, rows: Long, parts: Int): DataFrame =
    spark.range(0L, rows, 1L, parts).select(
      col("id").cast("int").as("ref_col1"),
      col("id").cast("int").as("ref_col2"),
      col("id").cast("int").as("ref_col3"))

  /** compare_datasets reference: an earlier snapshot of (row_id, col3, col10)
    * with some rows missing and some col3 values changed.
    */
  def snapshotDf(spark: SparkSession, rows: Long, seed: Long, parts: Int): DataFrame =
    raw(spark, rows, seed, parts)
      .where(col("__dk").isNull || col("__dk") =!= 3)
      .select(col("row_id"),
        when(col("__dk") === 2, col("col3") + 1).otherwise(col("col3")).as("col3"),
        col("col10"))

  // ---------------------------------------------------------------- rules

  /** The 24 functions of the reference all-row-checks suite, each aimed at a
    * column where some planted defect breaks it (is_valid_date/timestamp run
    * on typed columns and never fail, as in the reference suite).
    */
  val rowRules: Seq[RuleDef] = {
    def r(i: Int, crit: String, fn: String, args: Seq[(String, Any)], pred: String) =
      RuleDef(f"r$i%02d_$fn", crit, fn, args, pred)
    val ipv4Re = "^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$"
    val validIpv4 = s"col_ipv4 RLIKE '${sqlStr(ipv4Re)}'"
    Seq(
      r(1, "error", "is_not_null", Seq("column" -> "col1"), "col1 IS NULL"),
      r(2, "error", "is_not_null_and_not_empty", Seq("column" -> "col_ipv6"),
        "col_ipv6 IS NULL OR col_ipv6 = ''"),
      r(3, "warn", "is_not_empty", Seq("column" -> "col_ipv6"), "col_ipv6 = ''"),
      r(4, "error", "is_in_list", Seq("column" -> "col3", "allowed" -> (0 until 97)),
        "col3 < 0 OR col3 > 96"),
      r(5, "warn", "is_not_in_list", Seq("column" -> "col3", "forbidden" -> Seq(1000)),
        "col3 = 1000"),
      r(6, "error", "is_in_range", Seq("column" -> "col2", "min_limit" -> 0, "max_limit" -> 4000000),
        "col2 < 0 OR col2 > 4000000"),
      r(7, "warn", "is_not_in_range", Seq("column" -> "col2", "min_limit" -> -10, "max_limit" -> -1),
        "col2 BETWEEN -10 AND -1"),
      r(8, "error", "is_not_less_than", Seq("column" -> "col2", "limit" -> 0), "col2 < 0"),
      r(9, "error", "is_not_greater_than", Seq("column" -> "col2", "limit" -> 4000000),
        "col2 > 4000000"),
      r(10, "warn", "is_equal_to", Seq("column" -> "size(col4)", "value" -> 2), "size(col4) <> 2"),
      r(11, "error", "sql_expression", Seq("expression" -> "col2 >= 0"), "col2 < 0"),
      r(12, "error", "is_older_than_n_days", Seq("column" -> "col5", "days" -> 0, "negate" -> true),
        "col5 > current_date()"),
      r(13, "error", "is_not_in_future", Seq("column" -> "col6", "offset" -> 0),
        "col6 > current_timestamp()"),
      r(14, "error", "is_not_null_and_not_empty_array", Seq("column" -> "col4"),
        "col4 IS NULL OR size(col4) = 0"),
      r(15, "warn", "is_valid_date", Seq("column" -> "col5"),
        "col5 IS NOT NULL AND to_date(cast(col5 AS string)) IS NULL"),
      r(16, "warn", "is_valid_timestamp", Seq("column" -> "col6"),
        "col6 IS NOT NULL AND to_timestamp(cast(col6 AS string)) IS NULL"),
      r(17, "error", "is_valid_ipv4_address", Seq("column" -> "col_ipv4"), s"NOT ($validIpv4)"),
      r(18, "error", "is_valid_ipv6_address", Seq("column" -> "col_ipv6"),
        "NOT (col_ipv6 RLIKE '^([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}$')"),
      r(19, "warn", "is_ipv4_address_in_cidr", Seq("column" -> "col_ipv4", "cidr_block" -> "10.0.0.0/8"),
        s"NOT ($validIpv4 AND split(col_ipv4, '[.]')[0] = '10')"),
      r(20, "error", "is_valid_json", Seq("column" -> "col_json_str"),
        "col_json_str IS NOT NULL AND get_json_object(col_json_str, '$') IS NULL"),
      r(21, "warn", "has_json_keys", Seq("column" -> "col_json_str", "keys" -> Seq("key1", "key2")),
        "col_json_str IS NOT NULL AND (get_json_object(col_json_str, '$.key1') IS NULL OR " +
          "get_json_object(col_json_str, '$.key2') IS NULL)"),
      r(22, "error", "regex_match", Seq("column" -> "col_json_str", "regex" -> "^\\{.*\\}$"),
        "NOT (col_json_str RLIKE '^[{].*[}]$')"),
      r(23, "error", "is_point", Seq("column" -> "col_geo_point"),
        "NOT (col_geo_point RLIKE '^POINT *[(]')"),
      r(24, "warn", "is_not_null_island", Seq("column" -> "col_geo_point"),
        "col_geo_point = 'POINT(0 0)'")
    )
  }

  /** `n` seeded metadata rules over col1, col2, col3 and col_ipv4 using five
    * functions in fixed rotation (so the cost mix does not move with the
    * seed); the seed picks thresholds, list members, patterns and which rules
    * warn instead of error.
    */
  def wideRules(n: Int, seed: Long, rows: Long): Seq[RuleDef] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val crit = if (rnd.nextInt(3) == 0) "warn" else "error"
      val name = f"w$i%04d"
      i % 5 match {
        case 0 =>
          val c = Seq("col1", "col2", "col3", "col_ipv4")((i / 5) % 4)
          RuleDef(s"${name}_is_not_null_$c", crit, "is_not_null", Seq("column" -> c), s"$c IS NULL")
        case 1 =>
          val (c, lo, hi) = (i / 5) % 3 match {
            case 0 => ("col1", -rnd.nextInt(100), rows.toInt - 1 + rnd.nextInt(1000))
            case 1 => ("col2", -rnd.nextInt(4), 3456789 + rnd.nextInt(1000000))
            case _ => ("col3", -rnd.nextInt(10), 96 + rnd.nextInt(500))
          }
          RuleDef(s"${name}_is_in_range_$c", crit, "is_in_range",
            Seq("column" -> c, "min_limit" -> lo, "max_limit" -> hi),
            s"$c IS NOT NULL AND ($c < $lo OR $c > $hi)")
        case 2 =>
          val (c, re, sqlRe) = (i / 5) % 3 match {
            case 0 =>
              val d = 1 + rnd.nextInt(3)
              ("col_ipv4", s"^10\\.[0-9]{1,$d}", s"^10[.][0-9]{1,$d}")
            case 1 =>
              val d = 7 + rnd.nextInt(3)
              ("col2", s"^[0-9]{1,$d}$$", s"^[0-9]{1,$d}$$")
            case _ =>
              val d = 2 + rnd.nextInt(2)
              ("col3", s"^[0-9]{1,$d}$$", s"^[0-9]{1,$d}$$")
          }
          RuleDef(s"${name}_regex_match_$c", crit, "regex_match", Seq("column" -> c, "regex" -> re),
            s"$c IS NOT NULL AND NOT (cast($c AS string) RLIKE '$sqlRe')")
        case 3 =>
          val extra = Seq.fill(1 + rnd.nextInt(4))(1000 + rnd.nextInt(2) * (1 + rnd.nextInt(50)))
          val allowed = ((0 until 97) ++ extra).distinct
          RuleDef(s"${name}_is_in_list_col3", crit, "is_in_list",
            Seq("column" -> "col3", "allowed" -> allowed),
            s"col3 IS NOT NULL AND col3 NOT IN (${allowed.mkString(", ")})")
        case _ =>
          val k = rnd.nextInt(1000000)
          val (e, pred) = (i / 5) % 2 match {
            case 0 => (s"col2 + $k >= $k", s"col2 + $k < $k")
            case _ => (s"col3 * 2 + $k <= ${192 + k}", s"col3 * 2 + $k > ${192 + k}")
          }
          RuleDef(s"${name}_sql_expression", crit, "sql_expression", Seq("expression" -> e),
            s"coalesce($pred, false)")
      }
    }
  }

  /** Dataset rules: composite uniqueness, foreign key, compare, MAD outliers,
    * grouped aggregate, aggregate match against ref and rolling aggregate
    * outliers. Expected rows come from [[Expected.datasetPredicates]].
    */
  def datasetRules(rows: Long): Seq[RuleDef] = Seq(
    RuleDef("d1_is_unique", "error", "is_unique", Seq("columns" -> Seq("col2", "col10")), ""),
    RuleDef("d2_foreign_key", "error", "foreign_key",
      Seq("columns" -> Seq("col1"), "ref_columns" -> Seq("ref_col1"), "ref_df_name" -> "ref"), ""),
    RuleDef("d3_compare_datasets", "warn", "compare_datasets",
      Seq("columns" -> Seq("row_id"), "ref_columns" -> Seq("row_id"), "ref_df_name" -> "snapshot"), ""),
    RuleDef("d4_has_no_outliers", "warn", "has_no_outliers", Seq("column" -> "col3"), ""),
    RuleDef("d5_is_aggr_not_greater_than", "error", "is_aggr_not_greater_than",
      Seq("column" -> "*", "aggr_type" -> "count", "group_by" -> Seq("col3"),
        "limit" -> (2 * rows / 97)), ""),
    RuleDef("d6_aggr_matches_dataset", "error", "aggr_matches_dataset",
      Seq("column" -> "row_id", "ref_column" -> "ref_col1", "aggr_type" -> "count", "ref_df_name" -> "ref"), ""),
    RuleDef("d7_has_no_aggr_outliers", "warn", "has_no_aggr_outliers",
      Seq("column" -> "*", "time_column" -> "col6", "aggr_type" -> "count", "sigma" -> 6.0,
        "time_interval" -> "365 days"), "")
  )

  // ---------------------------------------------------------------- yaml

  def sqlStr(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")

  /** Rule set as a YAML document (one JSON-style flow mapping per rule). */
  def toYaml(rules: Seq[RuleDef]): String =
    rules.map { r =>
      val args = r.args.map { case (k, v) => s"${Json.write(k)}: ${Json.write(v)}" }.mkString("{", ", ", "}")
      s"""- {"name": ${Json.write(r.name)}, "criticality": ${Json.write(r.criticality)}, """ +
        s""""check": {"function": ${Json.write(r.function)}, "arguments": $args}}"""
    }.mkString("", "\n", "\n")
}
