package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Wide `_dq_info` element schema with registered optional fields (reference
  * dqx/schema/dq_info_schema.py:1-46). Check modules register their field at
  * load; [[buildStruct]] always emits the full wide struct so elements from
  * different checks union cleanly into one `array<struct>` column.
  */
object DQInfo {
  private val fields = new java.util.LinkedHashMap[String, DataType]()

  /** Register a field for the wide struct; first registration wins
    * (dq_info_schema.py:14-22).
    */
  def register(name: String, dtype: DataType): Unit = synchronized {
    if (!fields.containsKey(name)) fields.put(name, dtype)
  }

  /** Build one wide-struct element: provided fields keep their column, every
    * other registered field is a typed NULL (dq_info_schema.py:34-46).
    */
  def buildStruct(values: Map[String, Column]): Column = synchronized {
    import scala.jdk.CollectionConverters._
    val parts = fields.asScala.toSeq.map { case (n, t) =>
      values.getOrElse(n, lit(null).cast(t)).as(n)
    }
    struct(parts: _*)
  }

  /** AI-explanation sub-struct inside the anomaly info (reference
    * anomaly/anomaly_info_schema.py:18-27): narrative / business_impact /
    * action are LLM-generated (pluggable via `anomaly_explainer_class`,
    * NULL under the default [[graft.anomaly.NullAnomalyExplainer]]);
    * top_features and the group stats are deterministic.
    */
  val aiExplanationSchema: StructType = StructType(Seq(
    StructField("narrative", StringType),
    StructField("business_impact", StringType),
    StructField("top_features", StringType),
    StructField("action", StringType),
    StructField("group_size", LongType),
    StructField("group_avg_severity", DoubleType)
  ))

  /** Anomaly info struct carried by has_no_row_anomalies results (reference
    * anomaly/anomaly_info_schema.py:28-46, field-for-field incl. the nullable
    * ai_explanation sub-struct added in reference 0.15.0).
    */
  val anomalySchema: StructType = StructType(Seq(
    StructField("check_name", StringType),
    StructField("score", DoubleType),
    StructField("severity_percentile", DoubleType),
    StructField("is_anomaly", BooleanType),
    StructField("threshold", DoubleType),
    StructField("model", StringType),
    StructField("segment", MapType(StringType, StringType)),
    StructField("contributions", MapType(StringType, DoubleType)),
    StructField("confidence_std", DoubleType),
    StructField("ai_explanation", aiExplanationSchema)
  ))
  register("anomaly", anomalySchema)
}
