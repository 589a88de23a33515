package graft.tools

import graft.BenchRef
import graft.checks.{NetChecks, RowChecks}
import graft.engine.DQEngine
import graft.rules.DQRowRule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-check cost breakdown of the all_row_checks bench suite: applies each
  * of the 24 rules ALONE over the same 10M synthetic frame and times the
  * honest result-reading action, so the suite's aggregate cost
  * (ref10m_all_row_checks) can be attributed to individual expressions.
  *
  * Usage: SPARK_GRAFT_PROBE_ROWS=10000000 runMain graft.tools.RowCheckProbe
  */
object RowCheckProbe {
  def main(args: Array[String]): Unit = {
    val rows = sys.env.get("SPARK_GRAFT_PROBE_ROWS").map(_.toLong).getOrElse(10000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // hypothesis knob for the suite-overhead attribution (default = the
      // engine's real config): whole-stage codegen on/off
      .config("spark.sql.codegen.wholeStage",
        sys.env.getOrElse("SPARK_GRAFT_PROBE_WSCG", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = BenchRef.generatedDf(spark, rows).localCheckpoint()
    df.count()

    val R = RowChecks
    val rules: Seq[(String, DQRowRule)] = Seq(
      "is_not_null" -> DQRowRule(R.isNotNull(col("col1")), "is_not_null", Seq("col1")),
      "is_not_null_and_not_empty" -> DQRowRule(R.isNotNullAndNotEmpty(col("col2")), "n", Seq("col2")),
      "is_not_empty" -> DQRowRule(R.isNotEmpty(col("col2")), "n", Seq("col2")),
      "is_in_list_97" -> DQRowRule(R.isInList(col("col3"), (0 until 97).map(_.asInstanceOf[Any])), "n", Seq("col3")),
      "is_not_in_list" -> DQRowRule(R.isNotInList(col("col3"), Seq(1000)), "n", Seq("col3")),
      "is_in_range" -> DQRowRule(R.isInRange(col("col2"), 0, 4000000), "n", Seq("col2")),
      "is_not_in_range" -> DQRowRule(R.isNotInRange(col("col2"), -10, -1), "n", Seq("col2")),
      "is_not_less_than" -> DQRowRule(R.isNotLessThan(col("col2"), 0), "n", Seq("col2")),
      "is_not_greater_than" -> DQRowRule(R.isNotGreaterThan(col("col2"), 4000000), "n", Seq("col2")),
      "is_equal_to" -> DQRowRule(R.isEqualTo(col("col3"), col("col3")), "n", Seq("col3")),
      "sql_expression" -> DQRowRule(R.sqlExpression("col2 >= 0"), "n"),
      "is_older_than_n_days" -> DQRowRule(R.isOlderThanNDays(col("col5"), 0, Some(lit("2026-01-01").cast("date"))), "n", Seq("col5")),
      "is_not_in_future" -> DQRowRule(R.isNotInFuture(col("col6"), 0, Some(lit("2026-01-01 00:00:00").cast("timestamp"))), "n", Seq("col6")),
      "not_empty_array" -> DQRowRule(R.isNotNullAndNotEmptyArray(col("col4")), "n", Seq("col4")),
      "is_valid_date" -> DQRowRule(R.isValidDate(col("col5").cast("string")), "n", Seq("col5")),
      "is_valid_timestamp" -> DQRowRule(R.isValidTimestamp(col("col6").cast("string")), "n", Seq("col6")),
      "is_valid_ipv4" -> DQRowRule(R.isValidIpv4Address(col("col_ipv4")), "n", Seq("col_ipv4")),
      "is_valid_ipv6" -> DQRowRule(NetChecks.isValidIpv6Address(col("col_ipv6")), "n", Seq("col_ipv6")),
      "ipv4_in_cidr" -> DQRowRule(NetChecks.isIpv4AddressInCidr(col("col_ipv4"), "10.0.0.0/8"), "n", Seq("col_ipv4")),
      "is_valid_json" -> DQRowRule(R.isValidJson(col("col_json_str")), "n", Seq("col_json_str")),
      "has_json_keys" -> DQRowRule(R.hasJsonKeys(col("col_json_str"), Seq("key1", "key2")), "n", Seq("col_json_str")),
      "regex_match" -> DQRowRule(R.regexMatch(col("col_json_str"), "^\\{.*\\}$"), "n", Seq("col_json_str")),
      "geo_is_point" -> DQRowRule(graft.checks.GeoChecks.isPoint(col("col_geo_point")), "n", Seq("col_geo_point")),
      "geo_not_null_island" -> DQRowRule(graft.checks.GeoChecks.isNotNullIsland(col("col_geo_point")), "n", Seq("col_geo_point")))

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // Interleaved attribution (VERDICT r14 next #1): the r14 probe timed each
    // rule once, consecutively — a multi-second host burst landed entirely on
    // whichever rule was running and per-rule deltas swung 17x between runs.
    // Now every rep cycles ALL cells in fixed order and the report is the
    // per-cell MEDIAN across reps, so ambient drift (which spans many cells)
    // cancels instead of compounding on one rule.
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.toInt).getOrElse(5)
    // baseline: the honest action over a frame with empty result columns
    val baseCell: (String, () => Unit) = "baseline_touch" -> (() => {
      BenchRef.touch(df
        .withColumn("_errors", lit(null).cast("string"))
        .withColumn("_warnings", lit(null).cast("string"))); () })
    val ruleCells: Seq[(String, () => Unit)] = rules.map { case (name, rule) =>
      val checked = DQEngine.applyChecks(df, Seq(rule))
      name -> (() => { BenchRef.touch(checked); () })
    }
    // whole-suite cell over the same checkpointed frame: per-rule medians
    // should roughly sum to this (CSE across rules makes it slightly less)
    val suiteCell: (String, () => Unit) = "suite_all" -> (() => {
      BenchRef.touch(DQEngine.applyChecks(df, rules.map(_._2))); () })
    val cells = (baseCell +: ruleCells) :+ suiteCell
    cells.foreach(_._2()) // warmup every plan once (JIT + codegen cache)
    val samples: Map[String, Seq[Double]] = {
      val acc = scala.collection.mutable.Map.empty[String, List[Double]]
      for (_ <- 0 until reps; (name, f) <- cells)
        acc(name) = time(f()) :: acc.getOrElse(name, Nil)
      acc.view.mapValues(_.reverse).toMap
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val report = cells.map { case (name, _) =>
      val xs = samples(name)
      "\"" + name + "\":{\"med\":" + f"${median(xs)}%.3f" +
        ",\"reps\":" + xs.map(v => f"$v%.3f").mkString("[", ",", "]") + "}"
    }
    println(s"""{"rows":$rows,"reps":$reps,${report.mkString(",")}}""")

    // plan/codegen shape of the full suite: the generated method sizes of
    // every whole-stage-codegen subtree (HotSpot never JIT-compiles a method
    // over 8000 bytes) — invisible in explain()
    if (sys.env.get("SPARK_GRAFT_PROBE_PLAN").contains("1")) {
      val checked = DQEngine.applyChecks(df, rules.map(_._2))
      val agg = checked.select(
        sum(when(col("_errors").isNotNull || col("_warnings").isNotNull, 1L)
          .otherwise(0L)).as("n"))
      agg.collect() // materialize AQE final stages on THIS QueryExecution
      // (first() would plan a separate Limit query, leaving this one initial)
      val plan = agg.queryExecution.executedPlan.toString
      println(plan.split("\n").map(_.take(150)).take(25).mkString("\n"))
      val code = org.apache.spark.sql.execution.debug.codegenString(agg.queryExecution.executedPlan)
      println(code.split("\n").take(25).mkString("\n"))
      code.split("\n").filter(l => l.contains("WholeStageCodegen") ||
        l.contains("Found") || l.contains("too long") || l.contains("bytecode")).take(20)
        .foreach(println)
      // generated-code size per subtree: the JIT refuses methods > 8 KB
      // bytecode and HotSpot's inlining gives up far earlier — report sizes
      code.split("\n").zipWithIndex.filter(_._1.contains("maxMethodCodeSize"))
        .take(10).foreach { case (l, _) => println(l.take(200)) }
    }

    // CSE probe: do paired checks over the same expensive parse (two WKT
    // checks; two JSON checks) cost ~one parse (codegen subexpression
    // elimination shares it) or ~two (each rule's branch re-parses)?
    if (sys.env.get("SPARK_GRAFT_PROBE_PAIRS").contains("1")) {
      val byName = rules.toMap
      def runPair(label: String, names: Seq[String]): Unit = {
        val checked = DQEngine.applyChecks(df, names.map(byName))
        checked.count()
        val t = time { BenchRef.touch(checked); () }
        println(f"""{"pair":"$label","secs":$t%.2f}""")
      }
      runPair("geo_pair", Seq("geo_is_point", "geo_not_null_island"))
      runPair("json_pair", Seq("is_valid_json", "has_json_keys"))
      runPair("json_triple", Seq("is_valid_json", "has_json_keys", "regex_match"))
    }
    spark.stop()
  }
}
