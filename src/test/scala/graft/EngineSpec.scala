package graft

import graft.checks.{DatasetChecks, RowChecks}
import graft.core._
import graft.engine.DQEngine
import graft.rules._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** End-to-end slice (SURVEY §7.2): metadata-shaped rules -> result arrays ->
  * good/bad split, on a tiny literal frame.
  */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1, Some("a"), 10),
    (2, None, 20),
    (2, Some("c"), 30),
    (3, Some("d"), -5)
  ).toDF("id", "name", "amount")

  private val extra = ExtraParams(
    runTimeOverwrite = Some(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
    runIdOverwrite = Some("test-run"))

  test("row check: is_not_null flags null rows as errors") {
    val rules = Seq(DQRowRule(
      check = RowChecks.isNotNull(col("name")),
      function = "is_not_null", columns = Seq("name")))
    val out = DQEngine.applyChecks(df, rules, extra)
    assert(out.columns.toSeq == Seq("id", "name", "amount", "_errors", "_warnings"))
    val bad = out.where(col("_errors").isNotNull).select("id").as[Int].collect()
    assert(bad.toSeq == Seq(2))
    val item = out.where(col("_errors").isNotNull)
      .select(expr("_errors[0]")).collect().head.getStruct(0)
    assert(item.getAs[String]("name") == "name_is_not_null")
    assert(item.getAs[String]("function") == "is_not_null")
    assert(item.getAs[String]("run_id") == "test-run")
    assert(!item.getAs[Boolean]("skipped"))
  }

  test("criticality warn lands in _warnings; split keeps warned rows in good side") {
    val rules = Seq(
      DQRowRule(RowChecks.isNotNull(col("name")), "is_not_null", Seq("name")),
      DQRowRule(RowChecks.isNotGreaterThan(col("amount"), 25), "is_not_greater_than",
        Seq("amount"), criticality = Criticality.Warn))
    val (good, bad) = DQEngine.applyChecksAndSplit(df, rules, extra)
    // row id=2(null name) errors; id=2/30 warns only
    assert(good.columns.toSeq == Seq("id", "name", "amount"))
    assert(good.count() == 3) // warn-only rows stay good
    assert(bad.count() == 2) // the error row + the warned row
  }

  test("dataset check: is_unique flags duplicate keys") {
    val rules = Seq(DQDatasetRule(
      DatasetChecks.isUnique(Seq("id")), "is_unique", Seq("id")))
    val out = DQEngine.applyChecks(df, rules, extra)
    val bad = out.where(col("_errors").isNotNull).select("id").as[Int].collect().sorted
    assert(bad.toSeq == Seq(2, 2))
    // temp metric columns dropped
    assert(out.columns.toSeq == Seq("id", "name", "amount", "_errors", "_warnings"))
  }

  test("unresolvable column yields skipped result, not failure") {
    val rules = Seq(DQRowRule(
      RowChecks.isNotNull(col("nope")), "is_not_null", Seq("nope")))
    val out = DQEngine.applyChecks(df, rules, extra)
    val items = out.select(expr("_errors[0].skipped")).as[Boolean].collect()
    assert(items.forall(identity))
    assert(out.count() == 4)
  }

  test("per-rule filter gates the failure") {
    val rules = Seq(DQRowRule(
      RowChecks.isNotGreaterThan(col("amount"), 15), "is_not_greater_than", Seq("amount"),
      filter = Some("id = 2")))
    val out = DQEngine.applyChecks(df, rules, extra)
    val bad = out.where(col("_errors").isNotNull).select("id", "amount")
      .as[(Int, Int)].collect().toSet
    assert(bad == Set((2, 20), (2, 30))) // id=3 amount=-5 passes; only id=2 rows checked
  }

  test("observation metrics count errors/warnings in one pass") {
    val rules = Seq(
      DQRowRule(RowChecks.isNotNull(col("name")), "is_not_null", Seq("name")),
      DQRowRule(RowChecks.isNotGreaterThan(col("amount"), 25), "gt", Seq("amount"),
        criticality = Criticality.Warn))
    val obs = new org.apache.spark.sql.Observation("dq")
    val observed = DQEngine.observeMetrics(DQEngine.applyChecks(df, rules, extra), obs)
    observed.count()
    val m = obs.get
    assert(m("input_row_count") == 4L)
    assert(m("error_row_count") == 1L)
    assert(m("warning_row_count") == 1L)
    assert(m("valid_row_count") == 2L)
  }

  test("per-check breakdown metric reports error/warning counts per rule") {
    val rules = Seq(
      DQRowRule(RowChecks.isNotNull(col("name")), "is_not_null", Seq("name"), name = "name_nn"),
      DQRowRule(RowChecks.isNotGreaterThan(col("amount"), 25), "is_not_greater_than",
        Seq("amount"), name = "amt_hi", criticality = Criticality.Warn))
    val obs = new org.apache.spark.sql.Observation("dqb")
    val observed = DQEngine.observeMetrics(DQEngine.applyChecks(df, rules, extra), obs,
      checkNames = rules.map(_.resolvedName))
    observed.count()
    val cm = obs.get("check_metrics").asInstanceOf[String]
    assert(cm == """[{"check_name":"name_nn","error_count":1,"warning_count":0},""" +
      """{"check_name":"amt_hi","error_count":0,"warning_count":1}]""")
    // same breakdown via post-hoc summary metrics
    val checked = DQEngine.applyChecks(df, rules, extra)
    val summary = graft.metrics.Metrics.computeSummaryMetrics(checked,
      graft.metrics.MetricsRunInfo("r1"), extra, checkNames = rules.map(_.resolvedName))
    val v = summary.where(col("metric_name") === "check_metrics")
      .select("metric_value").as[String].collect().head
    assert(v == cm)
  }

  test("_dq_info carries the anomaly struct from has_no_row_anomalies") {
    val rules = Seq(
      DQDatasetRule(DatasetChecks.hasNoRowAnomalies(Seq("amount"), threshold = 1.2,
        checkName = "amt_anom"), "has_no_row_anomalies", Seq("amount")),
      DQRowRule(RowChecks.isNotNull(col("name")), "is_not_null", Seq("name")))
    val out = DQEngine.applyChecks(df, rules, extra)
    assert(out.columns.toSeq == Seq("id", "name", "amount", "_errors", "_warnings", "_dq_info"))
    // every row carries exactly one info element with the full anomaly struct
    assert(out.where(size(col("_dq_info")) === 1).count() == 4)
    val flagged = out.where(col("_dq_info")(0).getField("anomaly").getField("is_anomaly"))
      .select("id").as[Int].collect().toSeq
    val errRows = out.where(col("_errors").isNotNull &&
      expr("exists(_errors, x -> x.function = 'has_no_row_anomalies')"))
      .select("id").as[Int].collect().toSeq
    assert(flagged == errRows) // info flag and error result agree
    val a = out.select(col("_dq_info")(0).getField("anomaly")).collect().head.getStruct(0)
    assert(a.getAs[String]("check_name") == "amt_anom")
    assert(a.getAs[String]("model") == "multivariate_zscore")
    assert(a.getAs[Double]("threshold") == 1.2)
    // no info checks -> no _dq_info column at all
    val plain = DQEngine.applyChecks(df, rules.tail, extra)
    assert(!plain.columns.contains("_dq_info"))
  }

  test("foreign_key flags keys missing from reference") {
    val ref = Seq(1, 3).toDF("rid")
    val rules = Seq(DQDatasetRule(
      DatasetChecks.foreignKey(Seq("id"), Seq("rid"), ref), "foreign_key", Seq("id")))
    val out = DQEngine.applyChecks(df, rules, extra)
    val bad = out.where(col("_errors").isNotNull).select("id").as[Int].collect().sorted
    assert(bad.toSeq == Seq(2, 2))
  }

  test("aggr compare: grouped avg not greater than limit") {
    val rules = Seq(DQDatasetRule(
      DatasetChecks.isAggrNotGreaterThan("amount", 20.0, "avg", groupBy = Seq("id")),
      "is_aggr_not_greater_than", Seq("amount")))
    val out = DQEngine.applyChecks(df, rules, extra)
    // id=2 avg=25 > 20 fails both rows; id=1 avg=10, id=3 avg=-5 pass
    val bad = out.where(col("_errors").isNotNull).select("id").as[Int].collect().sorted
    assert(bad.toSeq == Seq(2, 2))
  }

  test("fingerprints are stable and distinct") {
    val r1 = DQRowRule(RowChecks.isNotNull(col("a")), "is_not_null", Seq("a"),
      arguments = Map("column" -> "a"))
    val r2 = DQRowRule(RowChecks.isNotNull(col("b")), "is_not_null", Seq("b"),
      arguments = Map("column" -> "b"))
    assert(r1.fingerprint != r2.fingerprint)
    assert(r1.fingerprint == r1.copy().fingerprint)
    assert(r1.fingerprint.matches("[0-9a-f]{64}"))
  }

  test("applyWithBase: pristine-frame aggregates give chained-frame answers across check types") {
    // strip applyWithBase from every check and compare: the base-rooted
    // plans must be answer-identical to the chained-frame plans for a
    // mixed stack (sql_query + distinct aggregate + FK + unique probe)
    val df = spark.range(0, 200).toDF("id")
      .withColumn("g", col("id") % 7)
      .withColumn("k", when(col("id") % 50 === 0, col("id") - 1).otherwise(col("id")))
      .withColumn("ts", expr("timestamp'2025-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60)"))
    val ref = spark.range(0, 150).toDF("rk")
    def rules = Seq(
      DQDatasetRule(DatasetChecks.sqlQuery(
        "SELECT g, COUNT(*) > 25 AS condition FROM {{input_view}} GROUP BY g",
        mergeColumns = Seq("g"), conditionColumn = "condition"), "sql_query", Seq("g")),
      DQDatasetRule(DatasetChecks.isAggrNotGreaterThan("id", 100, "count_distinct",
        groupBy = Seq("g")), "is_aggr_not_greater_than", Seq("id")),
      DQDatasetRule(DatasetChecks.foreignKey(Seq("id"), Seq("rk"), ref, strategy = "probe"),
        "foreign_key", Seq("id")),
      DQDatasetRule(DatasetChecks.isUnique(Seq("k"), strategy = "probe"), "is_unique", Seq("k")),
      DQDatasetRule(DatasetChecks.isDataFreshPerTimeWindow("ts", 60, 50),
        "is_data_fresh_per_time_window", Seq("ts")),
      DQDatasetRule(DatasetChecks.compareDatasets(Seq("id"), Seq("id"),
        df.select(col("id"), when(col("id") % 30 === 0, col("g") + 1).otherwise(col("g")).as("g"))),
        "compare_datasets", Seq("id")))
    def answers(rs: Seq[DQRule]) = DQEngine.applyChecks(df, rs,
      ExtraParams(runTimeOverwrite = Some(java.sql.Timestamp.valueOf("2025-06-01 00:00:00")),
        runIdOverwrite = Some("fixed")))
      .selectExpr("id", "coalesce(transform(_errors, e -> e.message), array()) AS em")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toSet)).toSet
    val withBase = answers(rules)
    val stripped = answers(rules.map {
      case r: DQDatasetRule => r.copy(check = r.check.copy(applyWithBase = None))
      case r => r
    })
    assert(withBase == stripped)
    assert(withBase.exists(_._2.nonEmpty)) // the stack actually flags something
  }

  test("checkpointEvery bounds plan growth over 20+ dataset checks, same answers") {
    // 21 sql_query checks each contribute an aggregate + join-back to ONE
    // plan (the reference warns about this composition, check_funcs.py:2161);
    // the opt-in fence localCheckpoints every 5th check so the optimized plan
    // stays bounded instead of accumulating all 21 segments
    val df = spark.range(0, 100).toDF("id").withColumn("g", col("id") % 10)
    def mk(n: Int) = (1 to n).map(i => DQDatasetRule(
      DatasetChecks.sqlQuery(
        s"SELECT g, COUNT(*) > ${i % 7 + 4} AS condition FROM {{input_view}} GROUP BY g",
        mergeColumns = Seq("g"), conditionColumn = "condition"),
      "sql_query", Seq("g")))
    def nodeCount(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.optimizedPlan.collect { case p => p }.size
    // Pre-r11, each check joined the ACCUMULATING frame back to an aggregate
    // of that frame, doubling the logical tree per check (the unfenced
    // 21-check plan could not even render its explain string in a 4.6 GB
    // heap). r11's DatasetCheck.applyWithBase roots every built-in check's
    // aggregate branch at the PRISTINE input, so growth is linear now —
    // pinned here: 12 stacked sql_query checks under DEFAULT params stay
    // fence-free and small.
    val linearSql = DQEngine.applyChecks(df, mk(12))
    assert(!linearSql.queryExecution.logical.toString.contains("LogicalRDD"),
      "12 stacked sql_query checks must not trip the default auto-fence (applyWithBase)")
    assert(nodeCount(linearSql) < 200, s"sql_query growth not linear: ${nodeCount(linearSql)}")
    // The fence still matters for CUSTOM DatasetChecks whose applyFn
    // self-joins the chained frame (they have no applyWithBase); emulate one
    // and verify the opt-in fence bounds it.
    def mkCustom(n: Int) = (1 to n).map { i =>
      val cnt = s"__cust_cnt_$i"
      DQDatasetRule(graft.rules.DatasetCheck(
        d => d.join(
          d.groupBy(col("g").as(s"__cg_$i")).agg(count(lit(1)).as(cnt)).hint("SHUFFLE_HASH"),
          col("g") === col(s"__cg_$i"), "left").drop(s"__cg_$i"),
        graft.core.CheckUtils.makeCondition(col(cnt) > lit(100), lit("too many"))),
        "custom_selfjoin", Seq("g"))
    }
    val fenced = DQEngine.applyChecks(df, mkCustom(21), ExtraParams(checkpointEvery = Some(5)))
    // autoFencePlanNodes = None: the TRUE unfenced baseline (the default
    // safety net would otherwise fence plain11 once its plan passes 4096
    // nodes)
    val plain11 = DQEngine.applyChecks(df, mkCustom(11), ExtraParams(autoFencePlanNodes = None))
    assert(nodeCount(fenced) < nodeCount(plain11),
      s"fenced21=${nodeCount(fenced)} plain11=${nodeCount(plain11)}")
    assert(nodeCount(fenced) < 400, s"fenced plan not bounded: ${nodeCount(fenced)}")
    // DEFAULT params now carry the safety net: 25 sql_query checks complete
    // without the caller ever learning the knob (r6 verdict "Next #7" — the
    // unfenced 21-deep chain cannot even render explain at 8g). The trigger
    // is plan SIZE: a linear-growth suite below the node cap must stay
    // checkpoint-free (no surprise materialization in ordinary rule sets).
    val auto25 = DQEngine.applyChecks(df, mk(25))
    assert(nodeCount(auto25) < 400, s"auto-fenced plan not bounded: ${nodeCount(auto25)}")
    assert(auto25.selectExpr("count(*)").first().getLong(0) == 100L)
    val linear = (1 to 12).map(i => DQDatasetRule(
      DatasetChecks.isUnique(Seq("g")), "is_unique", Seq("g")))
    val linearOut = DQEngine.applyChecks(df, linear)
    assert(!linearOut.queryExecution.logical.toString.contains("LogicalRDD"),
      "12 linear-growth checks must not trip the default auto-fence")
    def answers(d: org.apache.spark.sql.DataFrame) =
      d.selectExpr("id", "coalesce(size(_errors), -1) AS n")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // correctness: fenced == plain at a size the unfenced plan can execute
    assert(answers(DQEngine.applyChecks(df, mk(8), ExtraParams(checkpointEvery = Some(3))))
      == answers(DQEngine.applyChecks(df, mk(8))))
    // and the 21-check fenced plan actually runs
    assert(fenced.selectExpr("count(*)").first().getLong(0) == 100L)
    // streaming frames are never checkpointed: same rules on a stream analyze
    val stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .selectExpr("value AS id", "value % 10 AS g")
    val rowRules = Seq(DQRowRule(RowChecks.isNotNull(col("g")), "is_not_null", Seq("g")))
    val streamOut = DQEngine.applyChecks(stream, rowRules,
      ExtraParams(checkpointEvery = Some(1)))
    assert(streamOut.isStreaming)
  }

  test("onBaseFallback fires on a base-incompatible stack and stays silent on a clean one") {
    // rule 1 ADDS a column; rule 2 (is_unique) targets it — the base-rooted
    // aggregate branch cannot resolve the new column against the PRISTINE
    // frame, so the engine must log + notify and fall back to the chained
    // frame (VERDICT r11 next #3). The canonical user trigger: checking a
    // column a previous custom check derived.
    val df = spark.range(0, 50).toDF("id")
    val addCol = graft.rules.DatasetCheck(
      d => d.withColumn("derived", col("id") % 10),
      graft.core.CheckUtils.makeCondition(lit(false), lit("never")))
    val rules = Seq(
      DQDatasetRule(addCol, "custom_derive", Seq("id")),
      DQDatasetRule(DatasetChecks.isUnique(Seq("derived"), strategy = "probe"),
        "is_unique", Seq("derived")))
    val fallbacks = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val out = DQEngine.applyChecks(df, rules,
      extra.copy(onBaseFallback = Some((n, r) => fallbacks += ((n, r)))))
    // fallback happened, named the right rule, and the check still ran
    // correctly against the chained frame (derived has 10 values x 5 dups)
    assert(fallbacks.map(_._1) == Seq("derived_is_unique"))
    assert(fallbacks.head._2.nonEmpty)
    assert(out.where(col("_errors").isNotNull).count() == 50)
    // clean stack: every built-in base-rooted build resolves — no callback
    val cleanCalls = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val clean = Seq(
      DQDatasetRule(DatasetChecks.isUnique(Seq("id"), strategy = "probe"), "is_unique", Seq("id")),
      DQDatasetRule(DatasetChecks.sqlQuery(
        "SELECT id, COUNT(*) > 1 AS condition FROM {{input_view}} GROUP BY id",
        mergeColumns = Seq("id"), conditionColumn = "condition"), "sql_query", Seq("id")))
    DQEngine.applyChecks(df, clean,
      extra.copy(onBaseFallback = Some((n, r) => cleanCalls += ((n, r))))).collect()
    assert(cleanCalls.isEmpty)
  }

  test("compare_datasets with duplicate ref keys: later checks keep chained semantics") {
    // ADVICE r11 medium: the compare wide path left-outer-joins refDf with no
    // ref-side dedup — duplicate ref keys fan out input rows (the reference's
    // own shape). compare is therefore never rowPreserving: a later is_unique
    // must aggregate the FANNED chained frame, not the pristine input, or its
    // verdicts diverge from pure-chained semantics. Pin answer-identity
    // against the stripped (no applyWithBase anywhere) pure-chained plan.
    val df = spark.range(0, 20).toDF("id").withColumn("v", col("id") % 3)
    // ref duplicates key id=7 three times -> rows with id=7 fan out x3,
    // making count(id=7)=3 in the chained frame: is_unique AFTER the compare
    // must flag id=7 (chained semantics), which pristine-frame counts miss
    val ref = spark.range(0, 20).toDF("id").withColumn("v", col("id") % 3)
      .union(Seq((7L, 1L), (7L, 2L)).toDF("id", "v"))
    def rules = Seq(
      DQDatasetRule(DatasetChecks.compareDatasets(Seq("id"), Seq("id"), ref),
        "compare_datasets", Seq("id")),
      DQDatasetRule(DatasetChecks.isUnique(Seq("id")), "is_unique", Seq("id")))
    def answers(rs: Seq[DQRule]) = DQEngine.applyChecks(df, rs, extra)
      .selectExpr("id", "coalesce(transform(_errors, e -> e.name), array()) AS en")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).sorted)).toSeq
      .sortBy(_.toString)
    val chained = answers(rules.map {
      case r: DQDatasetRule => r.copy(check = r.check.copy(applyWithBase = None))
      case r => r
    })
    assert(answers(rules) == chained)
    // the fan-out really happened and is_unique really flagged it
    assert(chained.count(_._1 == 7L) == 3)
    assert(chained.filter(_._1 == 7L).forall(_._2.contains("id_is_unique")))
  }

  test("compare refKeysUnique=true restores base-rooting (linear plans) after a compare") {
    // The r12 safety default (compare is never rowPreserving) costs later
    // self-join checks their pristine-base rooting; refKeysUnique is the
    // caller's guarantee that the ref keys are distinct (a deduped dim),
    // which provably restores row parity. Pin both halves: same answers,
    // smaller plans.
    val df = spark.range(0, 100).toDF("id").withColumn("g", col("id") % 10)
    val ref = spark.range(0, 100).toDF("id").withColumn("g", col("id") % 10)
    def rules(unique: Boolean): Seq[DQRule] =
      // hashPrefilter=false keeps the compare as a REAL in-plan outer join
      // (the prefilter's eager candidate pass folds to literals on a no-diff
      // fixture, which would hide the growth difference this test pins)
      DQDatasetRule(DatasetChecks.compareDatasets(Seq("id"), Seq("id"), ref,
        hashPrefilter = false, refKeysUnique = unique),
        "compare_datasets", Seq("id"), name = "cmp") +:
      (1 to 6).map(i => DQDatasetRule(DatasetChecks.sqlQuery(
        s"SELECT g, COUNT(*) > ${i + 20} AS condition FROM {{input_view}} GROUP BY g",
        mergeColumns = Seq("g"), conditionColumn = "condition"), "sql_query", Seq("g"),
        name = s"sq_$i"))
    def run(unique: Boolean) = DQEngine.applyChecks(df, rules(unique), extra)
    def nodes(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.optimizedPlan.collect { case p => p }.size
    // the demoted comparison point is the all-chained build: since r13 the
    // unflagged default reaches the same linear plan via the automatic
    // ref-key-uniqueness probe (pinned in its own test below), so the flag's
    // value is skipping the probe ACTION, not a smaller plan
    val chained = DQEngine.applyChecks(df, rules(unique = true).map {
      case r: DQDatasetRule => r.copy(check = r.check.copy(applyWithBase = None))
      case r => r
    }, extra)
    val guaranteed = run(unique = true); val safe = run(unique = false)
    assert(nodes(guaranteed) < nodes(chained),
      s"base-rooting not restored: unique=${nodes(guaranteed)} chained=${nodes(chained)}")
    assert(nodes(guaranteed) == nodes(safe),
      s"probe default diverged from the guarantee on unique keys: " +
        s"unique=${nodes(guaranteed)} default=${nodes(safe)}")
    def answers(d: org.apache.spark.sql.DataFrame) =
      d.selectExpr("id", "coalesce(size(_errors), -1) AS n")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(answers(guaranteed) == answers(safe))
    assert(answers(guaranteed) == answers(chained))
  }

  test("auto ref-key-uniqueness probe: unflagged compare keeps stacking linear, dup keys fall back observably") {
    // VERDICT r12 next #3: without refKeysUnique the engine runs ONE slim
    // count-vs-count-distinct probe over the ref join keys — lazily, when
    // the first later check asks for the pristine base — and upgrades row
    // parity automatically when they prove unique.
    val df = spark.range(0, 100).toDF("id").withColumn("g", col("id") % 10)
    val refUnique = spark.range(0, 100).toDF("id")
    val refDup = refUnique.union(Seq(7L, 9L).toDF("id"))
    def rules(ref: org.apache.spark.sql.DataFrame): Seq[DQRule] =
      DQDatasetRule(DatasetChecks.compareDatasets(Seq("id"), Seq("id"), ref,
        hashPrefilter = false),
        "compare_datasets", Seq("id"), name = "cmp") +:
      (1 to 5).map(i => DQDatasetRule(DatasetChecks.sqlQuery(
        s"SELECT g, COUNT(*) > ${i + 20} AS condition FROM {{input_view}} GROUP BY g",
        mergeColumns = Seq("g"), conditionColumn = "condition"), "sql_query", Seq("g"),
        name = s"sq_$i"))
    def nodes(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.optimizedPlan.collect { case p => p }.size
    // unique ref, no flag: probe upgrades parity — plan as small as the
    // explicit-guarantee run, and no fallback observed
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val probed = DQEngine.applyChecks(df, rules(refUnique),
      extra.copy(onBaseFallback = Some((n, r) => calls += ((n, r)))))
    val guaranteed = DQEngine.applyChecks(df,
      rules(refUnique).map {
        case r: DQDatasetRule if r.name == "cmp" => r.copy(check =
          DatasetChecks.compareDatasets(Seq("id"), Seq("id"), refUnique,
            hashPrefilter = false, refKeysUnique = true))
        case r => r
      }, extra)
    assert(calls.isEmpty, s"probe on unique keys must not fire fallback: $calls")
    assert(nodes(probed) == nodes(guaranteed),
      s"probe did not restore base-rooting: probed=${nodes(probed)} guaranteed=${nodes(guaranteed)}")
    // duplicate ref keys: probe demotes — fallback observed, named after the
    // compare rule, and answers equal the all-chained build exactly
    val dupCalls = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val dupOut = DQEngine.applyChecks(df, rules(refDup),
      extra.copy(onBaseFallback = Some((n, r) => dupCalls += ((n, r)))))
    assert(dupCalls.map(_._1).distinct == Seq("cmp") &&
      dupCalls.head._2.contains("not unique"), dupCalls.toString)
    def answers(d: org.apache.spark.sql.DataFrame) =
      d.selectExpr("id", "coalesce(size(_errors), -1) AS n")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    val dupChained = DQEngine.applyChecks(df, rules(refDup).map {
      case r: DQDatasetRule => r.copy(check = r.check.copy(applyWithBase = None))
      case r => r
    }, extra)
    assert(answers(dupOut) == answers(dupChained))
    assert(answers(probed) == answers(guaranteed))
  }

  test("one probe action per distinct ref: stacked compares share the uniqueness verdict") {
    // 5 compares against one ref must not cost 4 ref scans (caught on the
    // bench's foreach_compare_datasets): the engine dedupes pending probes
    // by the ref's semantic identity within one applyChecks run — and
    // (VERDICT r13 next #3) presence-path compares never probe at all:
    // their parity is decided statically from the plan shape.
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("refEvals")
    val ref = spark.range(0, 20, 1, 2).map { x => acc.add(1); x }.toDF("rk")
    val df = spark.range(0, 50).toDF("id").withColumn("g", col("id") % 5)
    def rules(prefilter: Boolean): Seq[DQRule] = (1 to 3).map(i => DQDatasetRule(
      DatasetChecks.compareDatasets(Seq("id"), Seq("rk"), ref, hashPrefilter = prefilter),
      "compare_datasets", Seq("id"), name = s"cmp_$i")) :+
      DQDatasetRule(DatasetChecks.sqlQuery(
        "SELECT g, COUNT(*) > 100 AS condition FROM {{input_view}} GROUP BY g",
        mergeColumns = Seq("g"), conditionColumn = "condition"), "sql_query", Seq("g"),
        name = "sq")
    // default dispatch: no compared value columns -> presence path, whose
    // distinct-key aggregate join cannot fan out — ZERO probe scans
    DQEngine.applyChecks(df, rules(prefilter = true), extra)
    assert(acc.value == 0, s"presence-path compare must not probe, saw ${acc.value} row evals")
    // wide path (prefilter off): parity is data-dependent — 3 compares
    // against one ref share ONE slim scan
    DQEngine.applyChecks(df, rules(prefilter = false), extra)
    assert(acc.value == 20, s"expected one 20-row probe scan of the ref, saw ${acc.value} row evals")
    // key semantics: equal plans share a key, different plans do not, and
    // the explicit guarantee skips probing entirely
    val k1 = DatasetChecks.compareDatasets(Seq("id"), Seq("id"),
      spark.range(0, 10).toDF("id")).rowPreservingProbeKey
    val k2 = DatasetChecks.compareDatasets(Seq("id"), Seq("id"),
      spark.range(0, 10).toDF("id")).rowPreservingProbeKey
    val k3 = DatasetChecks.compareDatasets(Seq("id"), Seq("id"),
      spark.range(0, 11).toDF("id")).rowPreservingProbeKey
    assert(k1.isDefined && k1 == k2 && k1 != k3)
    assert(DatasetChecks.compareDatasets(Seq("id"), Seq("id"),
      spark.range(0, 10).toDF("id"), refKeysUnique = true).rowPreservingProbeKey.isEmpty)
  }

  test("uniqueness probe: structural distinct-keys proof is scan-free; data verdict never cached across calls") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("refEvals2")
    val ref = spark.range(0, 20, 1, 2).map { x => acc.add(1); x % 5 }.toDF("rk")
    // dropDuplicates on the join keys: Catalyst's distinct-keys propagation
    // proves uniqueness on the optimized plan — the probe returns true with
    // ZERO executed jobs (VERDICT r13 next #3's zero-cost proof)
    val structural = DatasetChecks.compareDatasets(Seq("id"), Seq("rk"),
      ref.dropDuplicates("rk"), hashPrefilter = false).rowPreservingProbe.get
    assert(structural() && acc.value == 0,
      s"structural proof must not scan, saw ${acc.value} row evals")
    assert(DatasetChecks.refKeysStructurallyUnique(ref.dropDuplicates("rk"), Seq("rk")))
    assert(!DatasetChecks.refKeysStructurallyUnique(ref, Seq("rk")))
    // ADVICE r13: the supplier must NOT cache across calls — a rule object
    // reused run-to-run would keep a stale unique=true after the ref gains
    // duplicates; per-run memoization is the engine's, not the supplier's
    val dataProbe = DatasetChecks.compareDatasets(Seq("id"), Seq("rk"), ref,
      hashPrefilter = false).rowPreservingProbe.get
    assert(!dataProbe()) // rk = x % 5 has duplicates
    val after1 = acc.value
    assert(after1 >= 20, s"data probe did not scan: $after1")
    assert(!dataProbe())
    assert(acc.value == 2 * after1,
      s"probe verdict cached across calls: ${acc.value} vs ${2 * after1}")
  }

  test("mixed 28-check stack grows linearly and fence-free under defaults") {
    // VERDICT r11 next #5 + r12 next #5: the guarantee a 100-rule production
    // suite rests on — every BUILT-IN self-join-shaped check roots its
    // aggregate branch at the pristine frame, so a mixed stack stays linear
    // (< ~40 optimized nodes per check) without tripping the default
    // auto-fence. Includes the partitioned-window checks (ungrouped
    // has_no_aggr_outliers / has_no_gaps) and a refKeysUnique compare, which
    // must keep parity for everything stacked after them.
    val df = spark.range(0, 200).toDF("id")
      .withColumn("g", col("id") % 7)
      .withColumn("ts", expr("timestamp'2025-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60)"))
    val ref = spark.range(0, 150).toDF("rk")
    val cref = spark.range(0, 200).toDF("cid")
    val rules: Seq[DQRule] = (1 to 4).flatMap { i =>
      Seq(
        DQDatasetRule(DatasetChecks.sqlQuery(
          s"SELECT g, COUNT(*) > ${20 + i} AS condition FROM {{input_view}} GROUP BY g",
          mergeColumns = Seq("g"), conditionColumn = "condition"), "sql_query", Seq("g"),
          name = s"sq_$i"),
        DQDatasetRule(DatasetChecks.foreignKey(Seq("id"), Seq("rk"), ref, strategy = "probe"),
          "foreign_key", Seq("id"), name = s"fk_$i"),
        DQDatasetRule(DatasetChecks.isUnique(Seq("g"), strategy = "probe"),
          "is_unique", Seq("g"), name = s"uq_$i"),
        DQDatasetRule(DatasetChecks.isAggrNotGreaterThan("id", 1000, "count_distinct",
          groupBy = Seq("g")), "is_aggr_not_greater_than", Seq("id"), name = s"agg_$i"),
        DQDatasetRule(DatasetChecks.isDataFreshPerTimeWindow("ts", 60, 1),
          "is_data_fresh_per_time_window", Seq("ts"), name = s"fr_$i"),
        DQDatasetRule(DatasetChecks.hasNoAggrOutliers("*", "ts", "count", sigma = 6.0,
          lookback = 4, warmup = 2, timeInterval = "1 minute"),
          "has_no_aggr_outliers", Seq("ts"), name = s"ao_$i"),
        DQDatasetRule(DatasetChecks.compareDatasets(Seq("id"), Seq("cid"), cref,
          hashPrefilter = false, refKeysUnique = true),
          "compare_datasets", Seq("id"), name = s"cm_$i"))
    } ++ Seq(
      // gaps twice, not per-i: its lead(1) window subtree is the same shape
      // as the outliers check already covered 4x above
      DQDatasetRule(DatasetChecks.hasNoGapsPerTimeWindow("ts", 1),
        "has_no_gaps_per_time_window", Seq("ts"), name = "gp_a"),
      DQDatasetRule(DatasetChecks.hasNoGapsPerTimeWindow("ts", 5),
        "has_no_gaps_per_time_window", Seq("ts"), name = "gp_b"))
    assert(rules.length == 30)
    val out = DQEngine.applyChecks(df, rules)
    assert(!out.queryExecution.logical.toString.contains("LogicalRDD"),
      "30 mixed stacked checks must not trip the default auto-fence")
    val nodes = out.queryExecution.optimizedPlan.collect { case p => p }.size
    assert(nodes < 40 * rules.length, s"mixed stack not linear: $nodes optimized nodes")
    // and it runs: row count preserved, no errors on a clean frame
    assert(out.count() == 200)
  }

  // ---------------------------------------------------- generated code

  /** Every physical node of an executed query, through AQE's query stages. */
  private def executedNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => executedNodes(a.finalPhysicalPlan)
    case q: QueryStageExec => executedNodes(q.plan)
    case o => o +: o.children.flatMap(executedNodes)
  }

  /** Runs `df`; the code of each of its whole-stage-codegen subtrees. */
  private def wholeStageCode(df: DataFrame): Seq[CodeAndComment] = {
    df.collect()
    executedNodes(df.queryExecution.executedPlan).collect {
      case w: WholeStageCodegenExec => w.doCodeGen()._2
    }
  }

  /** Read every row's result arrays through one aggregate, as a user would. */
  private def flagged(checked: DataFrame): DataFrame =
    checked.agg(count_if(col("_errors").isNotNull || col("_warnings").isNotNull))

  test("two applyChecks calls with one rule shape generate byte-identical code") {
    // fresh run ids and the default current_timestamp() run time: nothing
    // run-specific may reach the code text, or every call misses Spark's
    // codegen cache and starts cold in the JIT
    val df = BenchRef.generatedDf(spark, 200).cache()
    df.count()
    val rules = BenchRef.allRowRules :+ DQRowRule(RowChecks.isNotInFuture(col("col6")),
      "is_not_in_future", Seq("col6"), name = "col6_not_in_future_now")
    def code(): Seq[String] = wholeStageCode(flagged(DQEngine.applyChecks(df, rules))).map(_.body)
    val first = code()
    Thread.sleep(5)
    val second = code()
    df.unpersist()
    assert(first.nonEmpty)
    assert(first == second)
  }

  test("every generated method of a 24- and a 64-rule plan stays under HotSpot's 8000-byte JIT limit") {
    // default session: Spark's own hugeMethodLimit, whole-stage codegen on
    assert(spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "65535")
    assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
    val df = BenchRef.generatedDf(spark, 200)
    val base = BenchRef.allRowRules
    val wide = (0 until 64).map(i => base(i % base.size).copy(name = f"r$i%02d",
      criticality = if (i % 2 == 0) Criticality.Error else Criticality.Warn))
    for (rules <- Seq(base, wide)) {
      val sizes = wholeStageCode(flagged(DQEngine.applyChecks(df, rules)))
        .map(c => CodeGenerator.compile(c)._2.maxMethodCodeSize)
      assert(sizes.nonEmpty && sizes.forall(_ < 8000), s"${rules.size} rules: method sizes $sizes")
    }
  }

  test("count() prunes every check: no ResultArray and no condition in the optimized plan") {
    val checked = DQEngine.applyChecks(BenchRef.generatedDf(spark, 50), BenchRef.allRowRules)
    val counted = checked.groupBy().count()
    val plan = counted.queryExecution.optimizedPlan
    assert(!plan.flatMap(_.expressions).exists(_.exists(e =>
      e.isInstanceOf[ResultArray] || e.isInstanceOf[OwnMethod])))
    assert(!plan.toString.contains("__dq_cond_"))
    assert(counted.collect().head.getLong(0) == 50L)
  }

  test("streaming applyChecks: each micro-batch stamps its own instant, in checks and run_time") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val df = in.toDF().toDF("id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val rules = Seq(DQRowRule(RowChecks.isNotInFuture(col("ts")), "is_not_in_future", Seq("ts")))
    val q = DQEngine.applyChecks(df, rules).writeStream.format("memory")
      .queryName("engine_stream_out").start()
    in.addData((1L, "2090-01-01 00:00:00"), (2L, "2001-01-01 00:00:00"))
    q.processAllAvailable()
    Thread.sleep(5)
    in.addData((3L, "2095-01-01 00:00:00"))
    q.processAllAvailable()
    q.stop()
    val stamps = spark.table("engine_stream_out").select(col("id"), expr("_errors[0].run_time"))
      .as[(Long, Option[java.sql.Timestamp])].collect().sortBy(_._1)
    assert(stamps.map(s => s._1 -> s._2.isDefined).toSeq == Seq(1L -> true, 2L -> false, 3L -> true))
    assert(stamps(0)._2.get.before(stamps(2)._2.get))
  }
}
