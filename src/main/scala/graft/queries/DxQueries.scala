package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Inference, Sections, TextOps, Truncate}
import graft.pipelines.{DxGroup, Prostate}
import graft.queries.OracleCompat.cleanSql

/** The DX-group / prostate pipeline surface (SURVEY.md §2.6-§2.8, §3) as
  * oracle-checkable queries over the `documents` fixture
  * (doc_id ↔ msgid, text ↔ message; FIXTURES.md §A).
  *
  * The oracle texts restate the exact operator semantics in DuckDB SQL:
  * cleaning states cleanMsg's blank-folding contract as a regex chain
  * (valid in both Java regex and RE2), the classifier is the
  * md5-arithmetic stand-in, truncation is the same token-slice logic.
  */
object DxQueries {

  /** The documents fixture as DX messages: `msgid` plus the cleaned `msg`. */
  private def cleanedDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id").as("msgid"), TextOps.cleanMsg(col("text")).as("msg"))

  /** Section specs keyed to the synthetic fixture vocabulary so extraction
    * is non-trivial in the harness (the clinical header specs in
    * Sections.clinicalSpecs stay the production default).
    */
  val fixtureSpecs: Seq[Sections.SectionSpec] = Seq(
    Sections.SectionSpec("gross", "table(.*?)scan"),
    Sections.SectionSpec("micro", "filter(.*?)join"),
    Sections.SectionSpec("diagnosis", "query(.*?)data"),
    Sections.SectionSpec("diagnosis_comment", "window(.*?)merge"),
    Sections.SectionSpec("addendum", "stream(.*?)batch"))

  private val md5LabelSql = "(instr('0123456789abcdef', substr(md5(%s),1,1))-1) %% 16"
  private val md5ScoreSql = "((instr('0123456789abcdef', substr(md5(%s),2,1))-1)::DOUBLE / 15.0::DOUBLE)"

  /** Shared oracle CTE: cleaned + fixture-spec sections + part_of_report +
    * filtered_message (mirrors Sections.createSections over cleaned text).
    */
  private val secCte =
    s"""WITH cleaned AS (
       |  SELECT doc_id AS msgid, $cleanSql AS msg FROM documents),
       |sec AS (
       |  SELECT msgid, msg,
       |    trim(regexp_extract(msg, 'table(.*?)scan', 1)) AS gross,
       |    trim(regexp_extract(msg, 'filter(.*?)join', 1)) AS micro,
       |    trim(regexp_extract(msg, 'query(.*?)data', 1)) AS diagnosis,
       |    trim(regexp_extract(msg, 'window(.*?)merge', 1)) AS diagnosis_comment,
       |    trim(regexp_extract(msg, 'stream(.*?)batch', 1)) AS addendum
       |  FROM cleaned),
       |parted AS (
       |  SELECT *,
       |    CASE WHEN diagnosis<>'' OR diagnosis_comment<>'' OR addendum<>'' THEN 'diag_or_add'
       |         WHEN gross<>'' OR micro<>'' THEN 'gross_or_micro'
       |         ELSE 'entire report' END AS part_of_report,
       |    CASE WHEN diagnosis<>'' OR diagnosis_comment<>'' OR addendum<>''
       |           THEN trim(concat_ws(' ', diagnosis, diagnosis_comment, addendum))
       |         WHEN gross<>'' OR micro<>''
       |           THEN trim(concat_ws(' ', gross, micro))
       |         ELSE msg END AS filtered_message
       |  FROM sec)""".stripMargin

  val all: Seq[Q] = Seq(

    Q("dx_clean",
      "T1 — message cleaning as a codegen'd regex chain on the scan " +
        "(no UDF; reference did row-wise pandas apply).",
      (s, d) => cleanedDocs(s, d).orderBy("msgid"),
      Some(s"""SELECT doc_id AS msgid, $cleanSql AS msg
              |FROM documents ORDER BY msgid""".stripMargin)),

    Q("dx_sections",
      "T3/T4 — regex section extraction to flattened columns plus the " +
        "part_of_report/filtered_message fallback logic; all native " +
        "regexp_extract expressions, patterns inlined from the (tiny) " +
        "section_regex dimension.",
      (s, d) => {
        val cleaned = cleanedDocs(s, d)
        Sections.createSections(cleaned, "msg", fixtureSpecs)
          .select("msgid", "gross", "micro", "diagnosis", "diagnosis_comment",
            "addendum", "part_of_report", "filtered_message")
          .orderBy("msgid")
      },
      Some(s"""$secCte
              |SELECT msgid, gross, micro, diagnosis, diagnosis_comment,
              |       addendum, part_of_report, filtered_message
              |FROM parted ORDER BY msgid""".stripMargin)),

    Q("dx_truncate",
      "T5 — token-budget truncation (budget 16 so fixtures actually " +
        "truncate): keep-last for 'entire report', keep-first otherwise; " +
        "pure array expressions inside codegen.",
      (s, d) => {
        val cleaned = cleanedDocs(s, d)
        Sections.createSections(cleaned, "msg", fixtureSpecs)
          .select(col("msgid"), col("part_of_report"),
            Truncate.tokenCount(col("filtered_message")).cast("long").as("n_tokens"),
            Truncate.truncateText(col("filtered_message"), col("part_of_report"), 16)
              .as("truncated_message"),
            greatest(Truncate.tokenCount(col("filtered_message")) - 16, lit(0))
              .cast("long").as("n_cut"))
          .orderBy("msgid")
      },
      Some(s"""$secCte,
              |tok AS (
              |  SELECT msgid, part_of_report, filtered_message AS fm,
              |    string_split_regex(trim(filtered_message), '\\s+') AS toks
              |  FROM parted)
              |SELECT msgid, part_of_report,
              |  CASE WHEN trim(fm)='' THEN 0 ELSE len(toks) END AS n_tokens,
              |  CASE WHEN len(toks) <= 16 THEN trim(fm)
              |       WHEN part_of_report = 'entire report'
              |         THEN array_to_string(list_slice(toks, -16, -1), ' ')
              |       ELSE array_to_string(list_slice(toks, 1, 16), ' ') END AS truncated_message,
              |  greatest((CASE WHEN trim(fm)='' THEN 0 ELSE len(toks) END) - 16, 0) AS n_cut
              |FROM tok ORDER BY msgid""".stripMargin)),

    Q("dx_classify",
      "M1 — batched mapPartitions inference with a per-executor model " +
        "cache; deterministic md5 stand-in keeps it oracle-checkable.",
      (s, d) => {
        val cleaned = cleanedDocs(s, d)
        Inference.classify(cleaned, "msg",
            Inference.ModelSpec(1L, "pathologyBERT", "1", "models/pathologyBERT"))
          .withColumn("predicted_label_id",
            TextOps.splitIndex(col("predicted_label"), 1).cast("long"))
          .select("msgid", "predicted_label", "model_score", "predicted_label_id")
          .orderBy("msgid")
      },
      Some(s"""WITH cleaned AS (
              |  SELECT doc_id AS msgid, $cleanSql AS msg FROM documents)
              |SELECT msgid,
              |  'LABEL_' || (${md5LabelSql.format("msg")}) AS predicted_label,
              |  ${md5ScoreSql.format("msg")} AS model_score,
              |  ${md5LabelSql.format("msg")} AS predicted_label_id
              |FROM cleaned ORDER BY msgid""".stripMargin)),

    Q("dx_label_join",
      "J1 — prediction × 16-row label dimension as an explicit broadcast " +
        "hash join (zero shuffle), then a count per label.",
      (s, d) => {
        val cleaned = cleanedDocs(s, d)
        val preds = Inference.classify(cleaned, "msg",
            Inference.ModelSpec(1L, "pathologyBERT", "1", "models/pathologyBERT"))
          .withColumn("predicted_label_id",
            TextOps.splitIndex(col("predicted_label"), 1).cast("long"))
        val labels = DxGroup.labelsDim(s)
        preds.join(broadcast(labels), preds("predicted_label_id") === labels("label"))
          .groupBy(col("label_name")).agg(count(lit(1)).as("n"))
          .orderBy("label_name")
      },
      Some(s"""WITH cleaned AS (
              |  SELECT doc_id AS msgid, $cleanSql AS msg FROM documents),
              |labels AS (
              |  SELECT range AS label, 'class_' || range AS label_name FROM range(16)),
              |preds AS (
              |  SELECT msgid, ${md5LabelSql.format("msg")} AS predicted_label_id FROM cleaned)
              |SELECT label_name, count(*) AS n
              |FROM preds JOIN labels ON predicted_label_id = label
              |GROUP BY label_name ORDER BY label_name""".stripMargin)),

    Q("dx_pipeline",
      "O1 — the flagship 3-stage DX-group pipeline as ONE lazy Catalyst " +
        "plan (clean → section → truncate → classify → broadcast label " +
        "join → final projection); the reference paid a Postgres round-trip " +
        "per stage. Clinical section headers don't occur in the lowercased " +
        "fixture text, so part_of_report='entire report' and the classifier " +
        "input is the cleaned text (encoded exactly in the oracle).",
      (s, d) => DxGroup.run(s, Tables.documents(s, d), batchId = 1L)
        .orderBy("msgid"),
      Some(s"""WITH cleaned AS (
              |  SELECT CAST(1 AS BIGINT) AS batch_id, doc_id AS msgid, $cleanSql AS msg FROM documents),
              |labels AS (
              |  SELECT range AS label, 'class_' || range AS label_name FROM range(16)),
              |preds AS (
              |  SELECT batch_id, msgid,
              |    ${md5LabelSql.format("msg")} AS predicted_label_id,
              |    ${md5ScoreSql.format("msg")} AS model_score
              |  FROM cleaned)
              |SELECT batch_id AS batchid, msgid, predicted_label_id, model_score,
              |       CAST(1 AS BIGINT) AS model_id, label_name AS predicted_label
              |FROM preds JOIN labels ON predicted_label_id = label
              |ORDER BY msgid""".stripMargin)),

    Q("prostate_fanin",
      "O2/J2/M3/M4 — fan-out over a persisted QA-sectioned input, 9 " +
        "prediction branches, fan-in as a chained equi-join on msg_id.",
      (s, d) => Prostate.run(s, Tables.documents(s, d),
          questions = Inference.fixtureQuestions)
        .orderBy("msg_id"),
      Some("""WITH s AS (
             |  SELECT doc_id AS msg_id, text,
             |    CASE WHEN instr(text,'merge')>0 THEN substr(text, instr(text,'merge'), 80) ELSE '' END AS comment,
             |    CASE WHEN instr(text,'stream')>0 THEN substr(text, instr(text,'stream'), 80) ELSE '' END AS addendum,
             |    CASE WHEN instr(text,'table')>0 THEN substr(text, instr(text,'table'), 80) ELSE '' END AS gross_description,
             |    CASE WHEN instr(text,'query')>0 THEN substr(text, instr(text,'query'), 80) ELSE '' END AS diagnosis,
             |    CASE WHEN instr(text,'customer')>0 THEN substr(text, instr(text,'customer'), 80) ELSE '' END AS clinical_history,
             |    CASE WHEN instr(text,'filter')>0 THEN substr(text, instr(text,'filter'), 80) ELSE '' END AS microscopic,
             |    text AS overall_report
             |  FROM documents)
             |SELECT msg_id,
             |  'C61.9' AS site_code, 1.0::DOUBLE AS site_code_pred_score,
             |  '81' || lpad(cast(length(overall_report) % 100 AS VARCHAR), 2, '0') AS histology_code,
             |  1.0::DOUBLE AS histology_code_pred_score,
             |  '3' AS behaviour_code, 1.0::DOUBLE AS behaviour_code_pred_score,
             |  '00' AS laterality, 1.0::DOUBLE AS laterality_pred_score,
             |  CASE WHEN microscopic<>'' THEN '1' ELSE '0' END AS lymph_vascular_invasion,
             |  CASE WHEN microscopic<>'' THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END AS lymph_vascular_invasion_pred_score,
             |  CASE WHEN gross_description<>'' THEN '1' ELSE '0' END AS invasive_surgery_flag,
             |  CASE WHEN gross_description<>'' THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END AS invasive_surgery_flag_pred_score,
             |  CASE WHEN addendum<>'' THEN '1' ELSE '0' END AS addendum_section_flag,
             |  CASE WHEN addendum<>'' THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END AS addendum_section_flag_pred_score,
             |  CASE WHEN diagnosis<>'' THEN '1' ELSE '0' END AS diagnostic_procedure_flag,
             |  CASE WHEN diagnosis<>'' THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END AS diagnostic_procedure_flag_pred_score,
             |  CASE WHEN clinical_history<>'' THEN '1' ELSE '0' END AS neoadjuvant_therapy_flag,
             |  CASE WHEN clinical_history<>'' THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END AS neoadjuvant_therapy_flag_pred_score
             |FROM s ORDER BY msg_id""".stripMargin)),

    Q("dx_embed",
      "Embedding inference as an operator: text → 8-dim vector via the " +
        "executor-cached, micro-batched mapPartitions seam (stand-in " +
        "embedder = md5 bytes mapped to [-1,1]; a real one wraps a " +
        "sentence-transformer). The stage that produces the embedding " +
        "column the ANN/near-dup suite consumes. Dims exploded to " +
        "columns for the oracle compare.",
      (s, d) => {
        val emb = Inference.embed(
          Tables.documents(s, d).select(col("doc_id"), col("text")), "text")
        emb.select(col("doc_id") +:
            (0 until 8).map(j => col("embedding")(j).as(s"e$j")): _*)
          .orderBy("doc_id")
      },
      Some(("SELECT doc_id" +
        (0 until 8).map(j =>
          s",\n  (('0x' || substring(md5(text), ${2 * j + 1}, 2))::INT / 255.0)" +
            s" * 2 - 1 AS e$j").mkString +
        "\nFROM documents ORDER BY doc_id")))
  )
}
