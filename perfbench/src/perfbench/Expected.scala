package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Expected answers, computed with plain Spark SQL over the generated
  * frames and never through graft.
  *
  * @param perRule rows that must carry each rule name
  * @param errorRows rows with at least one error-rule failure
  * @param warningRows rows with at least one warn-rule failure
  * @param flaggedRows rows with any failure
  */
final case class Answer(perRule: Map[String, Long], errorRows: Long, warningRows: Long,
                        flaggedRows: Long, rows: Long) {
  /** Rows a quarantine split keeps as valid (no errors; warnings allowed). */
  def validRows: Long = rows - errorRows
}

object Expected {

  /** Row rules: one aggregate pass of per-rule `count_if` predicates. */
  def rowAnswer(input: DataFrame, rules: Seq[Gen.RuleDef]): Answer = {
    def anyOf(rs: Seq[Gen.RuleDef]): String =
      if (rs.isEmpty) "false" else rs.map(r => s"coalesce(${r.predicate}, false)").mkString(" OR ")
    val errs = rules.filter(_.criticality == "error")
    val warns = rules.filter(_.criticality == "warn")
    val aggs = rules.map(r => expr(s"count_if(coalesce(${r.predicate}, false))")) ++ Seq(
      expr(s"count_if(${anyOf(errs)})"), expr(s"count_if(${anyOf(warns)})"),
      expr(s"count_if(${anyOf(rules)})"), expr("count(1)"))
    val row = input.select(aggs: _*).first()
    val n = rules.size
    Answer(rules.zipWithIndex.map { case (r, i) => r.name -> row.getLong(i) }.toMap,
      row.getLong(n), row.getLong(n + 1), row.getLong(n + 2), row.getLong(n + 3))
  }

  /** Dataset rules: one SQL query per rule returning the row_ids it flags,
    * over the temp views `input`, `ref` and `snapshot`.
    */
  def datasetQueries(rows: Long): Map[String, String] = {
    val grain = "window(coalesce(col6, timestamp'1900-01-01 00:00:00'), '365 days').start"
    Map(
      "d1_is_unique" ->
        """SELECT i.row_id FROM input i JOIN (
          |  SELECT col2, col10 FROM input WHERE col2 IS NOT NULL AND col10 IS NOT NULL
          |  GROUP BY col2, col10 HAVING count(*) > 1) d
          |ON i.col2 = d.col2 AND i.col10 = d.col10""".stripMargin,
      "d2_foreign_key" ->
        """SELECT row_id FROM input i LEFT ANTI JOIN ref r ON i.col1 = r.ref_col1
          |WHERE i.col1 IS NOT NULL""".stripMargin,
      "d3_compare_datasets" ->
        """SELECT i.row_id FROM input i LEFT JOIN snapshot s ON i.row_id = s.row_id
          |WHERE s.row_id IS NULL OR NOT (i.col3 <=> s.col3 AND i.col10 <=> s.col10)""".stripMargin,
      "d4_has_no_outliers" ->
        """WITH m AS (SELECT percentile_approx(col3, 0.5, 10000) AS med FROM input),
          |d AS (SELECT percentile_approx(abs(cast(col3 AS double) - m.med), 0.5, 10000) AS mad
          |      FROM input, m)
          |SELECT row_id FROM input, m, d
          |WHERE col3 IS NOT NULL AND (col3 < m.med - 3.5 * d.mad OR col3 > m.med + 3.5 * d.mad)""".stripMargin,
      "d5_is_aggr_not_greater_than" ->
        s"""SELECT row_id FROM input WHERE col3 IN (
           |  SELECT col3 FROM input GROUP BY col3 HAVING count(*) > ${2 * rows / 97})""".stripMargin,
      "d6_aggr_matches_dataset" ->
        """SELECT row_id FROM input
          |WHERE (SELECT count(row_id) FROM input) <> (SELECT count(ref_col1) FROM ref)""".stripMargin,
      "d7_has_no_aggr_outliers" ->
        s"""WITH g AS (SELECT row_id, $grain AS g FROM input),
           |b AS (SELECT g, count(*) AS c FROM g GROUP BY g),
           |s AS (SELECT g, c, avg(c) OVER w AS m, stddev_pop(c) OVER w AS sd, count(c) OVER w AS n
           |      FROM b WINDOW w AS (ORDER BY g ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
           |SELECT g.row_id FROM g JOIN s ON g.g = s.g
           |WHERE s.n >= 3 AND s.sd IS NOT NULL AND abs(s.c - s.m) > 6.0 * s.sd""".stripMargin)
  }

  def datasetAnswer(spark: SparkSession, input: DataFrame, ref: DataFrame, snapshot: DataFrame,
                    rules: Seq[Gen.RuleDef], rows: Long): Answer = {
    input.createOrReplaceTempView("input")
    ref.createOrReplaceTempView("ref")
    snapshot.createOrReplaceTempView("snapshot")
    val queries = datasetQueries(rows)
    val unionSql = rules.map(r => s"SELECT DISTINCT '${r.name}' AS rule, row_id FROM (${queries(r.name)})")
      .mkString("\nUNION ALL\n")
    val pairs = spark.sql(unionSql).collect().map(r => r.getString(0) -> r.getLong(1))
    val flagged: Map[String, Set[Long]] = rules.map { r =>
      r.name -> pairs.collect { case (n, id) if n == r.name => id }.toSet
    }.toMap
    def union(crit: String): Set[Long] =
      rules.filter(_.criticality == crit).flatMap(r => flagged(r.name)).toSet
    val errs = union("error")
    val warns = union("warn")
    Answer(flagged.map { case (k, v) => k -> v.size.toLong }, errs.size, warns.size,
      (errs ++ warns).size, input.count())
  }

  /** Per-rule counts as graft reported them, in one pass: rows carrying
    * each (rule name, criticality), for comparison with [[Answer.perRule]].
    */
  def reportedPerRule(checked: DataFrame): Map[(String, String), Long] = {
    def tagged(c: String, crit: String) =
      s"coalesce(transform($c, x -> concat('$crit|', x.name)), array())"
    checked.select(explode(expr(s"concat(${tagged("_errors", "error")}, ${tagged("_warnings", "warn")})")).as("n"))
      .groupBy("n").count().collect()
      .map { r =>
        val Array(crit, name) = r.getString(0).split("[|]", 2)
        (name, crit) -> r.getLong(1)
      }.toMap
  }

  /** Mismatches between reported and expected per-rule counts. */
  def perRuleMismatches(reported: Map[(String, String), Long], answer: Answer,
                        rules: Seq[Gen.RuleDef]): Seq[String] = {
    val known = rules.map(r => (r.name, r.criticality)).toSet
    val unexpected = reported.keys.filterNot(known).map(k => s"unexpected rule in results: $k")
    val wrong = rules.flatMap { r =>
      val got = reported.getOrElse((r.name, r.criticality), 0L)
      val want = answer.perRule(r.name)
      if (got == want) None else Some(s"${r.name}: reported $got rows, expected $want")
    }
    unexpected.toSeq ++ wrong
  }
}
