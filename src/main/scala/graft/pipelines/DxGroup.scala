package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{BatchLedger, Config}
import graft.ops.{Inference, Sections, TextOps, Truncate}

/** O1 — the flagship DX-group classification pipeline (SURVEY.md §3.1/§3.2;
  * reference DAGs `DX_Group_classification_with_api`
  * diagnostic_group_pipeline_with_api.py:324-410 and `..._with_csv`
  * dx_group.py:269-346).
  *
  * The reference's three Airflow tasks each ran in their own process and
  * round-tripped the whole dataset through Postgres at every edge
  * (clean → `cleaned_data` → prep → `preped_data` → predict). Here the
  * stages are pure DataFrame → DataFrame functions composed lazily in one
  * Catalyst plan: no materialization between stages, and the label join is
  * an explicit broadcast (the labels dimension is ≤16 rows; reference joins
  * it at diagnostic_group_pipeline_with_api.py:310).
  */
object DxGroup {

  /** Stage 1 — clean (reference clean_data, :76-148): normalize raw text,
    * stamp the batch id, project to the `cleaned_data` schema
    * (batch_id, msgid, msg).
    */
  def clean(raw: DataFrame, batchId: Long,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    BatchLedger.stamp(
      raw.withColumn("msg", TextOps.cleanMsg(col(textCol)))
         .withColumnRenamed(idCol, "msgid"), batchId)
      .select("batch_id", "msgid", "msg")

  /** Stage 2 — prep (reference prep_data, :151-230): regex section split to
    * the `preped_data` schema (batch_id, msgid, sections…,
    * filtered_message, part_of_report).
    *
    * With the default `Sections.clinicalSpecs`, whose headers are
    * uppercase, nothing matches the lowercased `msg` of [[clean]]: the
    * default [[run]] always yields `part_of_report = 'entire report'` and
    * `filtered_message = msg`, so truncation keeps the last tokens.
    */
  def prep(cleaned: DataFrame,
           specs: Seq[Sections.SectionSpec] = Sections.clinicalSpecs): DataFrame =
    Sections.createSections(cleaned, "msg", specs)
      .select("batch_id" +: "msgid" +: specs.map(_.name) :+ "filtered_message" :+ "part_of_report" map col: _*)

  /** Stage 3 — predict (reference predict_data, :234-318): token-budget
    * truncation, batched model inference, label postprocess, broadcast
    * label join, final projection/rename (`batchid` sic — the reference's
    * output column name, :313).
    */
  def predict(preped: DataFrame, labels: DataFrame, spec: Inference.ModelSpec,
              cfg: Config.PipelineConfig = Config.PipelineConfig()): DataFrame = {
    val truncated = preped.withColumn("filtered_message",
      Truncate.truncateText(col("filtered_message"), col("part_of_report"),
        cfg.maxLength - 2))
    val predicted = Inference.classify(truncated, "filtered_message", spec, cfg.batchSize)
      .withColumn("predicted_label_id",
        TextOps.splitIndex(col("predicted_label"), 1).cast("long"))
      .withColumn("model_id", lit(spec.modelId))
    predicted
      .join(broadcast(labels), predicted("predicted_label_id") === labels("label"), "inner")
      .select(
        col("batch_id").as("batchid"),
        col("msgid"),
        col("predicted_label_id"),
        col("model_score"),
        col("model_id"),
        col("label_name").as("predicted_label"))
  }

  /** The 16-row labels dimension (reference reads it from Postgres filtered
    * by model_id, :306-308). Generated deterministically so the DuckDB
    * oracle can regenerate it with `range(16)`.
    */
  def labelsDim(spark: SparkSession, numLabels: Int = 16): DataFrame =
    spark.range(numLabels).select(
      col("id").cast("long").as("label"),
      concat(lit("class_"), col("id")).as("label_name"))

  /** Full composition, raw documents → final output frame. */
  def run(spark: SparkSession, raw: DataFrame, batchId: Long,
          cfg: Config.PipelineConfig = Config.PipelineConfig()): DataFrame = {
    val spec = Inference.ModelSpec(1L, cfg.modelName, cfg.modelVersion,
      "models/" + cfg.modelName, cfg.numLabels)
    predict(prep(clean(raw, batchId)), labelsDim(spark, cfg.numLabels), spec, cfg)
  }
}
