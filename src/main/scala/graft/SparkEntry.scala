package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.QueryScope
import graft.queries.{DedupQueries, DocQueries, DqQueries, DxQueries, ErQueries, EvQueries,
  GraphQueries, LakeQueries, MlQueries, MmQueries, Q, QueryHints, Relational, SimQueries,
  StreamQueries, TaQueries}

/** Driver contract — see SURVEY.md §7.
  *
  * Queries live in graft.queries.* as [[graft.queries.Q]] values that pair
  * each Spark implementation with its DuckDB oracle SQL (kept side by side
  * so the two can never drift apart silently); this object just flattens
  * the registry into the driver's two maps.
  *
  * The catalog is filed by operator family, and a query's name prefix
  * names its object: `q*` in `Relational`; `dx_*` and `prostate_fanin` in
  * `DxQueries`; `ta_`, `sim_`, `ev_`, `dedup_`, `stream_`, `dq_`, `doc_`,
  * `graph_`, `mm_`, `ml_` and `er_` each in the matching `<Prefix>Queries`
  * (`DocQueries` also holds `curation_pipeline` and `pretrain_pipeline`);
  * `lake_`, `src_`, `cdc_` and `inc_` in `LakeQueries`. A helper that more
  * than one family uses lives in `Queries.scala`: SQL fragments in
  * `OracleCompat`, Spark-side fixtures in `QueryFixtures`.
  */
object SparkEntry {

  def registry: Seq[Q] =
    Relational.all ++ DxQueries.all ++ TaQueries.all ++ SimQueries.all ++
      EvQueries.all ++ DedupQueries.all ++ StreamQueries.all ++ DqQueries.all ++
      DocQueries.all ++ GraphQueries.all ++ MmQueries.all ++ MlQueries.all ++
      ErQueries.all ++ LakeQueries.all

  /** The query names a harness runs: every registry query, sorted, for
    * `None`; for `Some(names)` exactly those, in the order given. Fails
    * on an empty selection and on any name the registry does not hold,
    * listing every unknown name, so a typo cannot run nothing silently.
    */
  def select(only: Option[Seq[String]]): Seq[String] = {
    val known = registry.map(_.name)
    only match {
      case None => known.sorted
      case Some(names) =>
        require(names.nonEmpty, "empty query selection: name at least one query")
        val unknown = names.filterNot(known.toSet).distinct
        require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
        names.distinct
    }
  }

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
