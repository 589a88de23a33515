package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one fresh JVM.
  *
  * {{{
  * perfbench.Main --workload row_checks --seed 1 --seconds 10 --trace 0 --tmp DIR
  *   [--spans FILE] [--break-threshold] [--break-replay]
  * }}}
  *
  * Prints a `PERFBENCH_DETAIL {...}` line and, last, the result object.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "compile_s" -> "s", "exec_s" -> "s",
    "codegen_max_method_bytes" -> "bytes", "heap_retained_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "rules.parse_s" -> "s", "rules.deserialize_s" -> "s", "rules.count" -> "count",
    "engine.apply_s" -> "s", "engine.apply_jobs" -> "count", "engine.logical_nodes" -> "count",
    "engine.analyze_s" -> "s", "engine.optimize_s" -> "s", "engine.physical_plan_s" -> "s",
    "engine.codegen_methods" -> "count", "engine.codegen_compile_s" -> "s",
    "exec.jobs" -> "count", "exec.tasks" -> "count", "exec.task_cpu_s" -> "s",
    "exec.task_gc_s" -> "s", "exec.core_util" -> "ratio", "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
    "metrics.observe_get_s" -> "s", "metrics.rows_write_s" -> "s",
    "io.read_s" -> "s", "io.write_valid_s" -> "s", "io.write_quarantine_s" -> "s",
    "io.written_mb" -> "MB", "io.files" -> "count",
    "trace.run_s" -> "s", "trace.overhead_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, tmp: File,
                        cores: Int, spans: Option[File], breakThreshold: Boolean, breakReplay: Boolean)

  def parseArgs(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val avail = Runtime.getRuntime.availableProcessors()
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--tmp")), math.min(4, avail),
      kv.get("--spans").map(new File(_)), argv.contains("--break-threshold"), argv.contains("--break-replay"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val graftEnv = sys.env.keys.filter(_.startsWith("SPARK_GRAFT_")).toSeq.sorted
    require(graftEnv.isEmpty, s"benchmark sessions take no graft settings; unset ${graftEnv.mkString(", ")}")
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(args.tmp, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(args.tmp, "local").getAbsolutePath)
      .getOrCreate()
    try {
      val sqlConfs = spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sorted
      val codegenConfs = sqlConfs.map(_._1).filter(_.startsWith("spark.sql.codegen."))
      require(codegenConfs.isEmpty, s"codegen settings in the session: ${codegenConfs.mkString(", ")}")
      val result = Runner.run(spark, args, sqlConfs)
      println("PERFBENCH_DETAIL " + Json.write(result.detail))
      args.spans.foreach(f => java.nio.file.Files.writeString(f.toPath, Json.write(result.spans)))
      println(Json.write(result.summary))
    } finally spark.stop()
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => write(k.toString) + ": " + write(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ", ", "]")
    case p: Product => write(p.productElementNames.zip(p.productIterator).toSeq.toMap)
    case other => write(other.toString)
  }
}

final case class Result(summary: Map[String, Any], detail: Map[String, Any], spans: Seq[Map[String, Any]])

object Runner {
  import Main.median

  /** The warm-up is reported steady when the fastest of its last
    * `WarmupWindow` runs is no more than `WarmupTolerance` faster than the
    * fastest of the window before (no downward trend left).
    */
  val WarmupWindow = 3
  val WarmupTolerance = 0.03
  /** The `run_s` bound of BENCHMARK.json. Traced runs whose median differs
    * from the median of the untraced runs between them by more than this
    * share attribute time the untraced run does not spend, and fail.
    */
  val TraceAgreementBound = 0.25

  private def nowS(): Double = System.nanoTime() / 1e9

  /** One timed or traced run: its run number, whether it was traced, and its
    * outcome or why it failed.
    */
  private final case class Attempt(runId: Int, traced: Boolean, result: Either[String, Outcome])

  def run(spark: SparkSession, args: Main.Args, sqlConfs: Seq[(String, String)]): Result = {
    val sessionReadyMs = System.currentTimeMillis()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val probe = new Probe(spark)
    val ctx = Ctx(spark, args.seed, args.cores, args.tmp, probe, args.breakThreshold, args.breakReplay)
    val w = Workloads(args.workload, ctx)
    val answerStart = nowS()
    val answer = w.answer()
    val answerS = nowS() - answerStart

    // set-up as a user pays it: session start, the input build (three times,
    // median) and the first, cold pass, which is also the per-rule answer
    // check; the warm-up runs after it only bring the JIT to steady state
    val builds = (1 to 3).map { _ => val t = nowS(); w.buildInput(); nowS() - t }
    probe.resetMaxMethod()
    val off = new Tracer(false, None)
    val coldStart = nowS()
    val perRule = scala.util.Try(w.perRuleMismatches(answer)).fold(e => Seq(s"per-rule pass threw: $e"), identity)
    val coldS = nowS() - coldStart
    val warmStart = nowS()
    val (warmRuns, warmSteady) = warmUp(() => w.run(off).runNs / 1e9, w.warmupRuns)
    val warmS = nowS() - warmStart
    val setupS = (sessionReadyMs - jvmStartMs) / 1e3 + median(builds) + coldS
    val setupWallS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // traced runs alternate with untraced ones, so both see the same JIT and
    // host state and the tracing overhead is not confounded with drift
    val on = new Tracer(true, Some(probe))
    val tracers = if (args.trace) Seq(off, on) else Seq(off)
    val timedStart = nowS()
    val ran = loop(w, tracers, args.seconds * tracers.size)
    val timedS = nowS() - timedStart
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    val maxMethod = probe.maxMethodBytes

    // every run's terminal answer against the plain-SQL answer
    val checked = ran.map(a => a.copy(result = a.result.flatMap { o =>
      val bad = w.verify(o, answer)
      if (bad.isEmpty) Right(o) else Left(s"run ${a.runId}: ${bad.mkString("; ")}")
    }))
    def ok(isTraced: Boolean): Seq[(Int, Outcome)] =
      checked.collect { case Attempt(id, `isTraced`, Right(o)) => id -> o }
    val timed = ok(isTraced = false).map(_._2)
    val runS = timed.map(_.runNs / 1e9)

    // traced runs must agree with the untraced ones, else their spans
    // attribute time the untraced run does not spend (for quarantine_runner:
    // the call-by-call replay is not what DQRunner does)
    val tracedRunS = median(ok(isTraced = true).map(_._2.runNs / 1e9))
    val agreementShare = math.abs(tracedRunS - median(runS)) / median(runS)
    val agrees = !args.trace || agreementShare <= TraceAgreementBound
    val attempts = if (agrees) checked else checked.map {
      case a @ Attempt(id, true, Right(_)) => a.copy(result = Left(
        f"run $id: traced median run_s $tracedRunS%.3f s is ${agreementShare * 100}%.0f%% away from the untraced ${median(runS)}%.3f s"))
      case a => a
    }
    val traceOk = attempts.collect { case Attempt(id, true, Right(o)) => id -> o }

    val (layer, spanRows, spanSummary) =
      if (!args.trace) (Map.empty[String, Double], Seq.empty[Map[String, Any]], Map.empty[String, Any])
      else traced(w, ctx, on, ok(isTraced = true), median(runS))

    val failures = (if (perRule.nonEmpty) Seq(perRule.mkString("; ")) else Nil) ++
      attempts.collect { case Attempt(_, _, Left(why)) => why }
    val attempted = attempts.size + 1
    val failed = failures.size

    val endToEnd: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "run_s" -> median(runS),
      "compile_s" -> median(timed.map(_.compileNs / 1e9)),
      "exec_s" -> median(timed.map(_.execNs / 1e9)),
      "codegen_max_method_bytes" -> maxMethod.toDouble,
      "heap_retained_mb" -> heapMb)

    val n = runS.size
    val detail = Map(
      "workload" -> w.name, "seed" -> args.seed, "cores" -> args.cores, "rows" -> w.rows,
      "rules" -> w.rules.size, "samples" -> n, "run_s_samples" -> runS,
      "compile_s_samples" -> timed.map(_.compileNs / 1e9),
      // the largest of n samples, read as the 100(n-1)/n percentile
      "run_s_highest_percentile" -> (if (n == 0) None
        else Some(Map("percentile" -> 100.0 * (n - 1) / n, "value" -> runS.max, "samples" -> n))),
      "failed_frac" -> failed.toDouble / attempted,
      "failures" -> failures.take(5),
      "answer" -> Map("rows" -> answer.rows, "error_rows" -> answer.errorRows,
        "warning_rows" -> answer.warningRows, "flagged_rows" -> answer.flaggedRows,
        "valid_rows" -> answer.validRows),
      "setup" -> Map("session_s" -> (sessionReadyMs - jvmStartMs) / 1e3, "input_builds_s" -> builds,
        "cold_pass_s" -> coldS, "warmup_runs_s" -> warmRuns, "warmup_steady" -> warmSteady,
        "warmup_s" -> warmS, "process_to_first_timed_run_s" -> setupWallS),
      "harness_s" -> Map("answer" -> answerS, "timed_loop" -> timedS),
      "exact_codegen_max" -> probe.exactMethodMax,
      "non_default_sql_confs" -> sqlConfs.toMap,
      "trace_agreement" -> (if (!args.trace) None else Some(Map(
        "traced_run_s" -> tracedRunS, "untraced_run_s" -> median(runS), "share" -> agreementShare,
        "bound" -> TraceAgreementBound, "holds" -> agrees, "traced_runs_ok" -> traceOk.size))),
      "span_summary" -> spanSummary)

    val metrics = if (args.trace) Main.PerLayer.map { case (k, u) => k -> Map("value" -> layer(k), "unit" -> u) }
      else Main.EndToEnd.map { case (k, u) => k -> Map("value" -> endToEnd(k), "unit" -> u) }
    val summary = Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toMap)
    Result(summary, detail, spanRows)
  }

  /** `runs` warm-up runs; returns their times and whether the last ones
    * show no downward trend (see [[WarmupWindow]]).
    */
  private def warmUp(once: () => Double, runs: Int): (Seq[Double], Boolean) = {
    val times = (1 to runs).map(_ => once())
    val recent = times.takeRight(2 * WarmupWindow)
    val steady = recent.size == 2 * WarmupWindow &&
      recent.drop(WarmupWindow).min >= recent.take(WarmupWindow).min * (1 - WarmupTolerance)
    (times, steady)
  }

  /** Cycles through `tracers`, one run each in turn, until `seconds` have
    * passed and each has run at least twice.
    */
  private def loop(w: Workload, tracers: Seq[Tracer], seconds: Double): Seq[Attempt] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Attempt]
    val deadline = nowS() + seconds
    while (out.size < 2 * tracers.size || nowS() < deadline) {
      val tr = tracers(out.size % tracers.size)
      val id = out.size + 1
      tr.startRun(id)
      val result = try Right(w.collect(tr.span("run")(w.run(tr))))
        catch { case e: Exception => Left(s"run $id threw: $e") }
      out += Attempt(id, tr.isEnabled, result)
    }
    out.toSeq
  }

  /** Per-layer metrics as medians over the traced runs, span self times and
    * the tracing overhead against the untraced median.
    */
  private def traced(w: Workload, ctx: Ctx, tr: Tracer, outcomes: Seq[(Int, Outcome)], untracedRunS: Double)
      : (Map[String, Double], Seq[Map[String, Any]], Map[String, Any]) = {
    val spans = tr.all
    val self = Tracer.selfTimes(spans)
    val byRun = spans.groupBy(_.runId)
    val perRun: Seq[Map[String, Double]] = outcomes.flatMap { case (runId, o) =>
      byRun.get(runId).map { ss =>
        def dur(n: String): Double = ss.filter(_.name == n).map(_.durS).sum
        def c(n: String): Counters = ss.find(_.name == n).map(_.counters).get
        val root = c("run")
        val execS = o.execNs / 1e9
        val mb = 1048576.0
        Map(
          "rules.parse_s" -> dur("rules.parse"), "rules.deserialize_s" -> dur("rules.deserialize"),
          "rules.count" -> w.rules.size.toDouble,
          "engine.apply_s" -> dur("engine.apply"), "engine.apply_jobs" -> c("engine.apply").jobs.toDouble,
          "engine.logical_nodes" -> o.nodes.toDouble,
          "engine.analyze_s" -> root.analyzeMs / 1e3, "engine.optimize_s" -> root.optimizeMs / 1e3,
          "engine.physical_plan_s" -> root.planMs / 1e3,
          "engine.codegen_methods" -> root.codegenMethods.toDouble,
          "engine.codegen_compile_s" -> root.codegenCompileNs / 1e9,
          "exec.jobs" -> root.jobs.toDouble, "exec.tasks" -> root.tasks.toDouble,
          "exec.task_cpu_s" -> root.taskCpuNs / 1e9, "exec.task_gc_s" -> root.taskGcMs / 1e3,
          "exec.core_util" -> root.taskCpuNs / 1e9 / (execS * ctx.cores),
          "exec.shuffle_write_mb" -> root.shuffleWriteBytes / mb,
          "exec.shuffle_read_mb" -> root.shuffleReadBytes / mb, "exec.spill_mb" -> root.spillBytes / mb,
          "metrics.observe_get_s" -> dur("metrics.observe_get"), "metrics.rows_write_s" -> dur("metrics.rows_write"),
          "io.read_s" -> dur("io.read"), "io.write_valid_s" -> dur("io.write_valid"),
          "io.write_quarantine_s" -> dur("io.write_quarantine"),
          "io.written_mb" -> o.writtenBytes / mb, "io.files" -> o.writtenFiles.toDouble,
          "trace.run_s" -> o.runNs / 1e9)
      }
    }
    val layer = Main.PerLayer.map(_._1).filterNot(_ == "trace.overhead_s")
      .map(k => k -> median(perRun.map(_(k)))).toMap
    val withOverhead = layer + ("trace.overhead_s" -> (layer("trace.run_s") - untracedRunS))
    val rows = spans.map(s => Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "run" -> s.runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> self(s.id),
      "jobs" -> s.counters.jobs, "tasks" -> s.counters.tasks, "task_cpu_s" -> s.counters.taskCpuNs / 1e9))
    val summary: Map[String, Any] = spans.groupBy(_.name).map { case (n, ss) =>
      n -> Map("count" -> ss.size, "median_s" -> median(ss.map(_.durS)),
        "median_self_s" -> median(ss.map(s => self(s.id))))
    } + ("nesting_violations" -> Tracer.nestingViolations(spans).size)
    (withOverhead, rows, summary)
  }
}
