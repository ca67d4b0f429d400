package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.QueryScope
import graft.queries.{DxQueries, ExtQueries, Q, QueryHints, R2Queries, R3Queries, R4Queries, R5Queries, R6Queries, R6bQueries, R7Queries, R7bQueries, R7cQueries, R7dQueries, R8Queries, R9Queries, R10Queries, R11Queries, R12Queries, R13Queries, R14Queries, R15Queries, R16Queries, R17Queries, R18Queries, R19Queries, R20Queries, R21Queries, R22Queries, R23Queries, R24Queries, R25Queries, R26Queries, R27Queries, R28Queries, R29Queries, R30Queries, R31Queries, R32Queries, R33Queries, R34Queries, R35Queries, Relational}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries live in graft.queries.* as [[graft.queries.Q]] values that pair
  * each Spark implementation with its DuckDB oracle SQL (kept side by side
  * so the two can never drift apart silently); this object just flattens
  * the registry into the driver's two maps.
  */
object SparkEntry {

  def registry: Seq[Q] =
    Relational.all ++ DxQueries.all ++ ExtQueries.all ++ R2Queries.all ++
      R3Queries.all ++ R4Queries.all ++ R5Queries.all ++ R6Queries.all ++
      R6bQueries.all ++ R7Queries.all ++ R7bQueries.all ++ R7cQueries.all ++
      R7dQueries.all ++ R8Queries.all ++ R9Queries.all ++ R10Queries.all ++
      R11Queries.all ++ R12Queries.all ++ R13Queries.all ++ R14Queries.all ++
      R15Queries.all ++ R16Queries.all ++ R17Queries.all ++ R18Queries.all ++
      R19Queries.all ++ R20Queries.all ++ R21Queries.all ++ R22Queries.all ++ R23Queries.all ++
      R24Queries.all ++ R25Queries.all ++ R26Queries.all ++ R27Queries.all ++ R28Queries.all ++ R29Queries.all ++ R30Queries.all ++
      R31Queries.all ++ R32Queries.all ++ R33Queries.all ++ R34Queries.all ++
      R35Queries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full DX-group pipeline (SURVEY.md §3.1) over the documents table.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("dx_pipeline")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each query is
    * constructed inside its own [[graft.core.QueryScope]], bound to its
    * measured rewrite hints ([[graft.queries.QueryHints]]; none for most
    * queries).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { q =>
      val hints = QueryHints(q.name)
      q.name -> ((spark: SparkSession, dir: String) =>
        QueryScope.withHints(hints)(q.run(spark, dir)))
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * Every CTE is emitted `AS MATERIALIZED`: DuckDB inlines a CTE into
    * each of its references by default, so oracles whose greedy/EM/DP
    * chains reference a heavy CTE k times re-ran its whole upstream k
    * times — ta_mmr re-inlined the k×k cosine matrix into all five
    * greedy steps (168 s → 0.3 s materialized, bit-identical result;
    * the full 306-oracle compare dropped from ~570 s to minutes). The
    * rewrite is purely an evaluation hint; results are unchanged, and
    * the targeted regex leaves `WINDOW w AS (...)` clauses alone (the
    * only other `name AS (` form in SQL).
    */
  def oracleSql: Map[String, String] =
    registry.collect { case Q(n, _, _, Some(sql)) =>
      n -> sql.replaceAll("(?<!WINDOW )\\b(\\w+) AS \\(", "$1 AS MATERIALIZED (")
    }.toMap
}
