package graft

import org.apache.spark.sql.SparkSession

/** Standalone runner for the reference-shaped suites only — full parity runs
  * against BASELINE.md: `SPARK_GRAFT_BENCH_ROWS=100000000 runMain graft.BenchRefMain`.
  */
object BenchRefMain {
  def main(args: Array[String]): Unit = {
    val rows = sys.env.get("SPARK_GRAFT_BENCH_ROWS").map(_.toLong).getOrElse(BenchRef.DefaultRows)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // force the cached disk stamp BEFORE any suite runs: post-run probes
    // systematically under-read after spill churn and proved non-predictive
    // (VERDICT r12 next #4) — every `disk_mb_s` this main stamps is now a
    // pre-run measure; per-child pre-launch stamps ride isolatedStats
    BenchRef.diskProbeMbS
    // isolated-median children run BEFORE the parent session exists, so the
    // parent's (up to 96g) heap is never resident beside a child's
    val isoStats = BenchRef.isolatedStats(rows)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_GRAFT_DRIVER_MEM", "96g"))
      // shuffle/spill codec A/B knob (guide: measure lz4 vs zstd per
      // workload); default stays Spark's lz4 so bench totals remain
      // protocol-comparable across rounds unless explicitly overridden
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rounds = BenchRef.defaultRounds
    val stats = BenchRef.runStats(spark, rows, rounds) ++ isoStats
    val times = stats.map(s => s.name -> s.secs)
    val qs = times.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }.mkString("{", ",", "}")
    val total = times.map(_._2).sum
    // disk_mb_s in the contract line lets the PARENT of an isolation child
    // stamp each child's own disk state onto its isolated rows; suite_metrics
    // likewise carries the per-suite spill/shuffle attribution (VERDICT r13
    // next #7) so isolated cells keep theirs across the process boundary
    val sm = stats.filter(_.spillDiskMb >= 0).map { s =>
      f""""${s.name}":{"spill_disk_mb":${s.spillDiskMb}%.1f,"spill_mem_mb":${s.spillMemMb}%.1f,""" +
        f""""shuffle_write_mb":${s.shuffleWriteMb}%.1f,"shuffle_read_mb":${s.shuffleReadMb}%.1f}"""
    }.mkString("{", ",", "}")
    val line = f"""{"metric":"ref_total","value":$total%.4f,"unit":"sec","queries":$qs,""" +
      f""""rows":$rows,"protocol":${BenchRef.ProtocolVersion},""" +
      f""""disk_mb_s":${BenchRef.diskProbeMbS}%.1f,"suite_metrics":$sm}"""
    println(line)
    BenchRef.writeArtifacts(
      BenchRef.artifactJson("graft.BenchRefMain", times, stats, "synthetic", rows, rounds))
    spark.stop()
  }
}
