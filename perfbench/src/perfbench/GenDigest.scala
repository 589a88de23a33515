package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Prints one JSON line of order-independent digests of everything the
  * generator makes for a seed, so a test can check that one seed always
  * gives the same inputs and rules and that two seeds differ:
  *
  * {{{
  * perfbench.GenDigest --seed 7 --rows 2000 --tmp DIR
  * }}}
  */
object GenDigest {
  private def digest(df: DataFrame): String = {
    val r = df.select(count(lit(1)), bit_xor(xxhash64(to_json(struct(col("*")))))).first()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val seed = kv("--seed").toLong
    val rows = kv("--rows").toLong
    val tmp = new File(kv("--tmp"))
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(tmp, "local").getAbsolutePath)
      .getOrCreate()
    try {
      val out = Map(
        "seed" -> seed,
        "perf" -> digest(Gen.perfDf(spark, rows, seed, 4)),
        "ref" -> digest(Gen.refDf(spark, rows, 4)),
        "snapshot" -> digest(Gen.snapshotDf(spark, rows, seed, 4)),
        "row_rules" -> Gen.toYaml(Gen.rowRules).hashCode,
        "wide_rules" -> Gen.toYaml(Gen.wideRules(48, seed, rows)).hashCode)
      println(Json.write(out))
    } finally spark.stop()
  }
}
