package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.BlankRuns

/** Scalar text/date/string operators (SURVEY.md §2.6, T1/T2/T6/T7/T8).
  *
  * Everything here is a `Column => Column` expression — built-in functions
  * plus, for cleanMsg, graft's one-pass [[graft.functions.CollapseBlanks]]
  * kernel — whole-stage-codegen'd by Catalyst, no UDFs, so these run at full
  * native speed inside the scan/project stage at any scale. The reference
  * applied each of these as a row-at-a-time pandas lambda
  * (reference: diagnostic_group_pipeline_with_api.py:131,301-303).
  */
object TextOps {

  /** T1 — message cleaning (reference: clean_msg, applied at
    * diagnostic_group_pipeline_with_api.py:131). Normalizes raw report text:
    * lowercase, then one byte scan that folds every run of control chars
    * and spaces (bytes 0x00-0x20) to one space and drops the run at either
    * end. The DuckDB oracle states the same contract as a regex chain
    * (`OracleCompat.cleanSql`).
    */
  def cleanMsg(c: Column): Column = BlankRuns.collapse(lower(c))

  /** T2 — basic regex clean (reference: data_prep.basic_reg, mvp_pipe.py:32):
    * strip everything that is not word char / whitespace / basic punctuation.
    */
  def basicReg(c: Column): Column =
    regexp_replace(c, "[^\\w\\s.,:;-]+", " ")

  /** T6 — date reformat to the registry's yyyyMMdd surface format
    * (reference: format_date, diagnostic_group_pipeline_with_api.py:72-73).
    */
  def formatDate(c: Column, fmt: String): Column =
    date_format(to_date(c, fmt), "yyyyMMdd")

  /** T7 — strip the `LABEL_` prefix from a model output label
    * (reference: `x.split("_")[1]`,
    * diagnostic_group_pipeline_with_api.py:301-303). `get` (0-based) returns
    * null when there is no `_`, matching pandas' IndexError-free `.get`
    * semantics under Spark ANSI mode.
    */
  def splitIndex(c: Column, idx: Int): Column =
    get(split(c, "_"), lit(idx))

  /** Document fingerprint — stable content hash of the *normalized* text.
    * md5 is deterministic across engines (same hex in Spark, DuckDB,
    * Python), which makes fingerprints portable lineage keys; at 100 TB a
    * fingerprint column is the cheap exact-dedup / change-detection key.
    */
  def fingerprint(c: Column): Column = md5(cleanMsg(c))
}
