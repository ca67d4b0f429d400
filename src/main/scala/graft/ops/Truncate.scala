package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.WsTokens

/** T5 — tokenizer-aware truncation (SURVEY.md §2.6; reference:
  * truncate_text, diagnostic_group_pipeline_with_api.py:49-69).
  *
  * Reference semantics: tokenize with offsets; if the report exceeds the
  * model budget (510 tokens), keep the LAST `budget` tokens when
  * `part_of_report == "entire report"` (the diagnosis usually sits at the
  * end of a full report) and the FIRST `budget` tokens otherwise
  * (gross_or_micro / diag_or_add sections lead with the signal).
  *
  * The HF offset-mapping tokenizer is replaced by a deterministic
  * whitespace tokenizer (the documented seam, SURVEY.md §7.3): same
  * first/last-budget slicing contract, reproducible across engines. A real
  * subword tokenizer plugs in behind the same column contract.
  *
  * Implementation is one byte pass per report, the codegen'd
  * [[graft.functions.WsTokens]] kernel: it counts the tokens of
  * `split(trim(t), "\\s+")` without building the token array, returns
  * `trim(t)` when they fit, and builds the kept tokens only for a report
  * over budget. No UDF; it stays inside WholeStageCodegen.
  */
object Truncate {

  /** Whitespace tokens of `trim(text)`: 0 when blank, NULL for NULL. */
  def tokenCount(text: Column): Column = WsTokens.count(text)

  /** Truncated text per the reference's branch logic. `budget` is the token
    * budget (510 in the reference; tests use small budgets so fixtures
    * actually truncate). A NULL part keeps the first tokens; a NULL text
    * gives `""`.
    */
  def truncateText(text: Column, partOfReport: Column, budget: Int): Column =
    coalesce(
      WsTokens.truncate(text,
        coalesce(partOfReport === "entire report", lit(false)), budget),
      lit(""))

  /** The api-pipeline variant also reports the cut point (reference returns
    * the character offset of the cut; the deterministic analog reports how
    * many tokens were dropped — same observability contract).
    */
  def truncateStruct(text: Column, partOfReport: Column, budget: Int): Column =
    struct(
      truncateText(text, partOfReport, budget).as("filtered_message"),
      greatest(tokenCount(text) - budget, lit(0)).as("offset"))

  // ------------------------------------------------- subword (WordPiece)

  /** Greedy WordPiece pieces of the normalized text — the real subword
    * upgrade of the whitespace seam above ([[graft.functions.WordPiece]],
    * codegen'd Catalyst expression, fixture vocab by default).
    */
  def subwordPieces(text: Column,
                    vocab: Seq[String] = graft.functions.WordPiece.FixtureVocab): Column =
    graft.functions.WordPiece.tokenize(
      graft.functions.WordPiece.normalize(text), vocab)

  /** Subword token count — what the reference's 510-token budget actually
    * measures (len(tokenizer(text).input_ids) - 2).
    */
  def subwordCount(text: Column,
                   vocab: Seq[String] = graft.functions.WordPiece.FixtureVocab): Column =
    size(subwordPieces(text, vocab))

  /** T5 truncation at SUBWORD granularity: same keep-last-for-'entire
    * report' / keep-first-otherwise branch, but the budget counts
    * WordPiece pieces (joined with spaces, `##` markers preserved, so the
    * cut sequence is exactly reproducible by any engine with the vocab).
    */
  def truncateSubword(text: Column, partOfReport: Column, budget: Int,
                      vocab: Seq[String] = graft.functions.WordPiece.FixtureVocab): Column = {
    val toks = subwordPieces(text, vocab)
    when(size(toks) <= budget, concat_ws(" ", toks))
      .when(partOfReport === "entire report",
        concat_ws(" ", slice(toks, -budget, budget)))
      .otherwise(concat_ws(" ", slice(toks, 1, budget)))
  }
}
