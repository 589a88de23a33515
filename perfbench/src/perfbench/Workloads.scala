package perfbench

import java.io.File

import graft.core.ExtraParams
import graft.engine.{DQEngine, DQRunner}
import graft.io.{ChecksStorageFactory, IO, InputConfig, OutputConfig}
import graft.metrics.{Metrics, MetricsRunInfo}
import graft.rules.{ChecksSerializer, ResolveCtx}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Shared state of one benchmark process. */
final case class Ctx(spark: SparkSession, seed: Long, cores: Int, tmp: File, probe: Probe,
                     breakThreshold: Boolean, breakReplay: Boolean) {
  def parts: Int = 2 * cores
}

/** One run's timings (ns) and terminal answer. `nodes` and `writtenFiles`
  * are filled on traced runs only.
  */
final case class Outcome(runNs: Long, compileNs: Long, verdict: Map[String, Long],
                         nodes: Long = 0L, writtenBytes: Long = 0L, writtenFiles: Long = 0L) {
  def execNs: Long = runNs - compileNs
}

/** A workload: builds its cached inputs, runs the checked pipeline once per
  * call, and knows the answer each run must produce.
  */
abstract class Workload(val ctx: Ctx) {
  def name: String
  def rows: Long
  /** Warm-up runs after the cold pass: enough that run times have stopped
    * falling. A count, not a time, so a process slowed by its host still
    * reaches the same JIT state before its timed runs.
    */
  def warmupRuns: Int
  def rules: Seq[Gen.RuleDef]
  /** Generate and cache (or write) the inputs; repeatable. */
  def buildInput(): Unit
  def run(tr: Tracer): Outcome
  /** Reads what a run left behind (untimed, outside the run's span). */
  def collect(o: Outcome): Outcome = o
  /** Expected answer from freshly generated frames; called before any input
    * is cached, since Spark's cache substitution breaks the self-joins of
    * the expected queries.
    */
  def answer(): Answer
  /** Terminal-answer mismatches of one run against the expected answer. */
  def verify(o: Outcome, a: Answer): Seq[String]
  /** Per-rule counts on one untimed pass; also the first warm-up run. */
  def perRuleMismatches(a: Answer): Seq[String]

  protected def spark: SparkSession = ctx.spark

  /** YAML handed to graft; the threshold break (self-test only) narrows the
    * row rules' is_in_range so graft flags rows the expected answer passes.
    */
  protected def yamlFor(rs: Seq[Gen.RuleDef]): String = {
    val sent =
      if (!ctx.breakThreshold) rs
      else rs.map {
        case r if r.function == "is_in_range" && r.name.startsWith("r") =>
          r.copy(args = r.args.map { case ("max_limit", _) => "max_limit" -> 3000000; case kv => kv })
        case r => r
      }
    Gen.toYaml(sent)
  }

  protected def cacheNow(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }
}

/** Verdict read through one aggregate over the result columns, so every
  * row's `_errors`/`_warnings` arrays are built (a bare count lets Catalyst
  * prune the checks).
  */
abstract class AggregateWorkload(ctx: Ctx) extends Workload(ctx) {
  private lazy val yaml = yamlFor(rules)
  protected def input: DataFrame
  protected def refs: Map[String, DataFrame] = Map.empty

  def run(tr: Tracer): Outcome = {
    val t0 = System.nanoTime()
    val dicts = tr.span("rules.parse")(ChecksSerializer.parseYaml(yaml))
    val rs = tr.span("rules.deserialize")(ChecksSerializer.deserialize(dicts, ResolveCtx(spark, refs)))
    val checked = tr.span("engine.apply")(DQEngine.applyChecks(input, rs))
    val verdict = checked.agg(
      count_if(col("_errors").isNotNull).as("error_rows"),
      count_if(col("_warnings").isNotNull).as("warning_rows"),
      count_if(col("_errors").isNotNull || col("_warnings").isNotNull).as("flagged_rows"))
    tr.span("engine.plan")(verdict.queryExecution.executedPlan)
    val t1 = System.nanoTime()
    val row = tr.span("exec.action")(verdict.collect().head)
    val t2 = System.nanoTime()
    val nodes = if (tr.isEnabled) checked.queryExecution.analyzed.collect { case p => p }.size.toLong else 0L
    Outcome(t2 - t0, t1 - t0,
      Map("error_rows" -> row.getLong(0), "warning_rows" -> row.getLong(1), "flagged_rows" -> row.getLong(2)),
      nodes)
  }

  def verify(o: Outcome, a: Answer): Seq[String] =
    Seq("error_rows" -> a.errorRows, "warning_rows" -> a.warningRows, "flagged_rows" -> a.flaggedRows)
      .collect { case (k, want) if o.verdict(k) != want => s"$k: got ${o.verdict(k)}, expected $want" }

  def perRuleMismatches(a: Answer): Seq[String] = {
    val rs = ChecksSerializer.deserialize(ChecksSerializer.parseYaml(yaml), ResolveCtx(spark, refs))
    Expected.perRuleMismatches(Expected.reportedPerRule(DQEngine.applyChecks(input, rs)), a, rules)
  }
}

/** 24 row rules over a cached frame: the check projection is the work. */
final class RowChecks(ctx: Ctx) extends AggregateWorkload(ctx) {
  val name = "row_checks"
  val rows = 100000L
  // measured on a 4-core host: run times fall from about 1.7 s to 1.25 s
  // over the first 18 runs after the cold pass (about 25 s), then by under
  // 1% a run
  val warmupRuns = 18
  val rules: Seq[Gen.RuleDef] = Gen.rowRules
  private var df: DataFrame = _
  protected def input: DataFrame = df
  def buildInput(): Unit = {
    if (df != null) df.unpersist(blocking = true)
    df = cacheNow(Gen.perfDf(spark, rows, ctx.seed, ctx.parts))
  }
  def answer(): Answer = Expected.rowAnswer(Gen.perfDf(spark, rows, ctx.seed, ctx.parts), rules)
}

/** Hundreds of seeded metadata rules over few rows: driver compile and code
  * generation are the work.
  */
final class CompileWide(ctx: Ctx, ruleCount: Int) extends AggregateWorkload(ctx) {
  val name = "compile_wide"
  val rows = 1000L
  // not in BENCHMARK.json; its warm-up curve is not measured
  val warmupRuns = 20
  lazy val rules: Seq[Gen.RuleDef] = Gen.wideRules(ruleCount, ctx.seed, rows)
  private var df: DataFrame = _
  protected def input: DataFrame = df
  def buildInput(): Unit = {
    if (df != null) df.unpersist(blocking = true)
    df = cacheNow(Gen.perfDf(spark, rows, ctx.seed, ctx.parts))
  }
  def answer(): Answer = Expected.rowAnswer(Gen.perfDf(spark, rows, ctx.seed, ctx.parts), rules)
}

/** Dataset rules over a cached frame plus reference frames: exchanges,
  * joins, windows and driver-side actions are the work.
  */
final class DatasetChecksWorkload(ctx: Ctx) extends AggregateWorkload(ctx) {
  val name = "dataset_checks"
  val rows = 10000L
  // not in BENCHMARK.json; its warm-up curve is not measured
  val warmupRuns = 5
  lazy val rules: Seq[Gen.RuleDef] = Gen.datasetRules(rows)
  private var df, ref, snapshot: DataFrame = _
  protected def input: DataFrame = df
  override protected def refs: Map[String, DataFrame] = Map("ref" -> ref, "snapshot" -> snapshot)
  def buildInput(): Unit = {
    Seq(df, ref, snapshot).filter(_ != null).foreach(_.unpersist(blocking = true))
    df = cacheNow(Gen.perfDf(spark, rows, ctx.seed, ctx.parts))
    ref = cacheNow(Gen.refDf(spark, rows, ctx.parts))
    snapshot = cacheNow(Gen.snapshotDf(spark, rows, ctx.seed, ctx.parts))
  }
  def answer(): Answer = Expected.datasetAnswer(spark, Gen.perfDf(spark, rows, ctx.seed, ctx.parts),
    Gen.refDf(spark, rows, ctx.parts), Gen.snapshotDf(spark, rows, ctx.seed, ctx.parts), rules, rows)
}

/** The end-to-end runner over a parquet input: read, check, split into
  * valid and quarantine parquet, and append the per-check metrics table.
  */
final class QuarantineRunner(ctx: Ctx) extends Workload(ctx) {
  val name = "quarantine_runner"
  val rows = 40000L
  // measured on a 4-core host: compile_s falls from about 0.7 s to 0.5 s in
  // a step between the 6th and 9th run after the cold pass, then stays
  // within the run-to-run noise; run_s falls from about 2.5 s to 2.0 s
  val warmupRuns = 10
  val rules: Seq[Gen.RuleDef] = Gen.rowRules
  private val inputDir = new File(ctx.tmp, "input.parquet").getPath
  private val validDir = new File(ctx.tmp, "valid.parquet").getPath
  private val quarantineDir = new File(ctx.tmp, "quarantine.parquet").getPath
  private val checksFile = new File(ctx.tmp, "checks.yml").getPath
  private val metricsTable = "perfbench_metrics"
  private var schemaDdl: String = _

  def buildInput(): Unit = {
    val df = Gen.perfDf(spark, rows, ctx.seed, ctx.parts)
    df.write.mode("overwrite").parquet(inputDir)
    schemaDdl = df.schema.toDDL
    java.nio.file.Files.writeString(new File(checksFile).toPath, yamlFor(rules))
  }

  private def inputCfg = InputConfig(inputDir, schema = Some(schemaDdl))
  private def validCfg = OutputConfig(validDir, mode = "overwrite")
  private def quarantineCfg = OutputConfig(quarantineDir, mode = "overwrite")

  def run(tr: Tracer): Outcome = {
    val metricsBefore = dataFiles(metricsDir).toSet
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    if (tr.isEnabled) replay(tr)
    else DQRunner.applyChecksAndSaveInTable(spark, DQRunner.RunConfig(
      input = inputCfg, output = Some(validCfg), quarantine = Some(quarantineCfg),
      checksLocation = Some(checksFile), metricsTable = Some(metricsTable)))
    val t1 = System.nanoTime()
    ctx.probe.drain()
    val firstJobMs = ctx.probe.firstJobStartMs(startMs)
      .getOrElse(throw new IllegalStateException("the runner started no Spark job"))
    val compileNs = math.min(t1 - t0, (firstJobMs - startMs) * 1000000L)
    val written = dataFiles(validDir) ++ dataFiles(quarantineDir) ++
      dataFiles(metricsDir).filterNot(metricsBefore)
    Outcome(t1 - t0, compileNs, Map.empty,
      nodes = lastNodes, writtenBytes = written.map(_.length).sum, writtenFiles = written.size.toLong)
  }

  override def collect(o: Outcome): Outcome = o.copy(verdict = Map(
    "valid_rows" -> spark.read.parquet(validDir).count(),
    "quarantine_rows" -> spark.read.parquet(quarantineDir).count()))

  private var lastNodes = 0L

  /** The public calls `DQRunner.applyChecksAndSaveInTable` makes for a batch
    * input with output, quarantine and metrics table, in the same order,
    * each under its own span.
    */
  private def replay(tr: Tracer): Unit = {
    val dicts = tr.span("rules.parse")(ChecksStorageFactory.forLocation(checksFile, spark).load(checksFile))
    val df = tr.span("io.read")(IO.readInputData(spark, inputCfg))
    val rs = tr.span("rules.deserialize")(ChecksSerializer.deserialize(dicts, ResolveCtx(spark)))
    val runId = java.util.UUID.randomUUID().toString
    val extra = ExtraParams(runIdOverwrite = Some(runId))
    val checked = tr.span("engine.apply")(DQEngine.applyChecks(df, rs, extra))
    val obs = new Observation(s"dq_${java.util.UUID.randomUUID().toString.take(8)}")
    val observed = tr.span("metrics.observe")(
      DQEngine.observeMetrics(checked, obs, extra, checkNames = rs.map(_.resolvedName)))
    val cached = observed.cache()
    try {
      tr.span("io.write_valid")(IO.saveDataFrame(DQEngine.getValid(cached, extra), validCfg))
      tr.span("io.write_quarantine")(IO.saveDataFrame(DQEngine.getInvalid(cached, extra), quarantineCfg))
    } finally cached.unpersist()
    val observedValues = tr.span("metrics.observe_get")(obs.get)
    tr.span("metrics.rows_write") {
      val info = MetricsRunInfo(runId = runId, inputLocation = Some(inputDir),
        outputLocation = Some(validDir), quarantineLocation = Some(quarantineDir),
        checksLocation = Some(checksFile))
      Metrics.buildMetricsRows(spark, observedValues, info, extra)
        .write.mode("append").saveAsTable(IO.quoteTableName(metricsTable))
    }
    lastNodes = checked.queryExecution.analyzed.collect { case p => p }.size.toLong
    // self-test only: a gap no span covers and DQRunner does not have
    if (ctx.breakReplay) Thread.sleep(5000)
  }

  private def metricsDir: String =
    new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), metricsTable).getPath

  private def dataFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  def answer(): Answer = Expected.rowAnswer(Gen.perfDf(spark, rows, ctx.seed, ctx.parts), rules)

  def verify(o: Outcome, a: Answer): Seq[String] =
    Seq("valid_rows" -> a.validRows, "quarantine_rows" -> a.flaggedRows)
      .collect { case (k, want) if o.verdict(k) != want => s"$k: got ${o.verdict(k)}, expected $want" }

  def perRuleMismatches(a: Answer): Seq[String] = {
    val o = collect(run(new Tracer(false, None)))
    val perRule = verify(o, a) ++ Expected.perRuleMismatches(
      Expected.reportedPerRule(spark.read.parquet(quarantineDir)), a, rules)
    val metrics = spark.table(metricsTable)
      .where(col("metric_name").isin("input_row_count", "error_row_count"))
      .select("metric_name", "metric_value").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1).toLong)
    val wantMetrics = Map("input_row_count" -> a.rows, "error_row_count" -> a.errorRows)
    val metricsWrong = metrics.collect {
      case (k, v) if wantMetrics(k) != v => s"metrics table $k: got $v, expected ${wantMetrics(k)}"
    }
    perRule ++ metricsWrong ++
      (if (metrics.isEmpty) Seq("metrics table has no row counts") else Nil)
  }
}

object Workloads {
  val Names: Seq[String] = Seq("row_checks", "compile_wide", "dataset_checks", "quarantine_runner")
  val WideRuleCount = 48

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "row_checks" => new RowChecks(ctx)
    case "compile_wide" => new CompileWide(ctx, WideRuleCount)
    case "dataset_checks" => new DatasetChecksWorkload(ctx)
    case "quarantine_runner" => new QuarantineRunner(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }
}
