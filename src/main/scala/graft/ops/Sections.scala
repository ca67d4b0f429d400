package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** T3/T4 — regex-driven section extraction (SURVEY.md §2.6).
  *
  * The reference compiles one regex per section from a `section_regex`
  * lookup table (reference: create_section_regex,
  * diagnostic_group_pipeline_with_api.py:199-218) and splits every report
  * into named sections with a Python UDF (create_sections, :220-224),
  * flattening the result dict to columns `gross, addendum, diagnosis,
  * diagnosis_comment, micro, filtered_message, part_of_report`.
  *
  * Spark-first re-expression: each section is a native `regexp_extract`
  * expression — codegen'd, vectorized, no Python/Scala UDF in the hot path.
  * The "compile the lookup table" step becomes: collect the tiny
  * `section_regex` dimension on the driver (it is a handful of rows) and
  * bake the patterns into the plan as literals, which is exactly what
  * broadcasting a 6-row table should be.
  */
object Sections {

  /** One named section and its extraction pattern (group 1 = section body).
    * Patterns must stay in the Java∩RE2 regex subset for oracle parity.
    */
  final case class SectionSpec(name: String, pattern: String)

  /** The reference's section set (diagnostic_group_pipeline_with_api.py:
    * 176-187) keyed to markers that occur in clinical reports; unit-test
    * fixtures use the real `GROSS DESCRIPTION:` style headers.
    *
    * The headers are uppercase and case-sensitive, and `TextOps.cleanMsg`
    * lowercases the text, so on cleaned text (what `DxGroup.prep` passes)
    * no header ever matches: every section is `""` and `part_of_report` is
    * `'entire report'`. Raw or uppercase text does match.
    */
  val clinicalSpecs: Seq[SectionSpec] = Seq(
    SectionSpec("gross", "(?s)GROSS DESCRIPTION:(.*?)(?:MICROSCOPIC:|DIAGNOSIS:|ADDENDUM:|COMMENT:|$)"),
    SectionSpec("micro", "(?s)MICROSCOPIC:(.*?)(?:GROSS DESCRIPTION:|DIAGNOSIS:|ADDENDUM:|COMMENT:|$)"),
    SectionSpec("diagnosis", "(?s)DIAGNOSIS:(.*?)(?:GROSS DESCRIPTION:|MICROSCOPIC:|ADDENDUM:|COMMENT:|$)"),
    SectionSpec("diagnosis_comment", "(?s)COMMENT:(.*?)(?:GROSS DESCRIPTION:|MICROSCOPIC:|DIAGNOSIS:|ADDENDUM:|$)"),
    SectionSpec("addendum", "(?s)ADDENDUM:(.*?)(?:GROSS DESCRIPTION:|MICROSCOPIC:|DIAGNOSIS:|COMMENT:|$)"))

  /** Build specs from a `section_regex` lookup DataFrame (T3): pick the
    * pattern column for the given health authority, one row per
    * parent_category. The dimension is tiny → `collect()` on the driver and
    * inline as literals (the degenerate, optimal form of a broadcast join).
    */
  def compileSpecs(sectionRegex: DataFrame, authority: String): Seq[SectionSpec] = {
    sectionRegex.select(col("parent_category"), col(authority)).collect().toSeq
      .map(r => SectionSpec(r.getString(0), r.getString(1)))
  }

  /** T4 — add one column per section plus the reference's derived columns:
    *  - `filtered_message`: the concatenated non-empty matched sections, or
    *    the whole text when nothing matched;
    *  - `part_of_report` ∈ {"entire report","gross_or_micro","diag_or_add"}
    *    (domain at diagnostic_group_pipeline_with_api.py:53-61): which
    *    bucket of sections the downstream classifier will look at —
    *    diagnosis/addendum preferred, gross/micro fallback, whole report
    *    last.
    */
  def createSections(df: DataFrame, textCol: String,
                     specs: Seq[SectionSpec] = clinicalSpecs): DataFrame = {
    val withSecs = df.withColumns(
      specs.map(s => s.name -> trim(regexp_extract(col(textCol), s.pattern, 1))).toMap)
    val diagCols = Seq("diagnosis", "diagnosis_comment", "addendum").filter(n => specs.exists(_.name == n))
    val grossCols = Seq("gross", "micro").filter(n => specs.exists(_.name == n))
    def nonEmpty(names: Seq[String]): Column =
      names.map(n => col(n) =!= lit("")).reduceOption(_ || _).getOrElse(lit(false))
    def joined(names: Seq[String]): Column =
      concat_ws(" ", names.map(col): _*)
    val part = when(nonEmpty(diagCols), lit("diag_or_add"))
      .when(nonEmpty(grossCols), lit("gross_or_micro"))
      .otherwise(lit("entire report"))
    val filtered = when(nonEmpty(diagCols), trim(joined(diagCols)))
      .when(nonEmpty(grossCols), trim(joined(grossCols)))
      .otherwise(col(textCol))
    withSecs
      .withColumn("part_of_report", part)
      .withColumn("filtered_message", filtered)
  }
}
