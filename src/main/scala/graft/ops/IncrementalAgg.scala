package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.IndexCommits

/** Incremental aggregate maintenance — the materialized-view refresh
  * shape: each ingest batch contributes a PARTIAL aggregate (count,
  * exact decimal sum, min, max — all algebraically mergeable), persisted
  * under the shared commit-marker state machine, and serving merges the
  * committed partials instead of rescanning history. At 100 TB this is
  * the difference between a refresh that scans one batch and one that
  * scans the table: per-refresh cost is O(batch) + O(keys × batches) for
  * the merge, and the merge input is keys-sized, not fact-sized.
  *
  * Exactness: every partial is algebraic (a decimal sum is
  * order-independent; min/max/count trivially merge), so merged serving
  * is bit-identical to a full recompute — the property the oracle
  * checks. avg is derived at serve time from the merged (sum, count),
  * never averaged across batches.
  *
  * Crash safety: a batch directory without its commit marker is invisible
  * to [[serve]]; a retry of the same batch id overwrites exactly its own
  * subtree then re-marks — the same idempotent batch pattern as the
  * index layouts ([[Similarity.ivfAppendLayout]], [[Retrieval]]'s
  * postings batches).
  */
object IncrementalAgg {

  private val Dec = DecimalType(28, 8)

  /** Per-key mergeable partials of one batch: (key, n, s, mn, mx).
    * One narrow aggregate over the batch — map-side combine collapses
    * each partition to ≤ keys rows before the only exchange.
    */
  def partials(batch: DataFrame, keyCol: String, valueCol: String): DataFrame =
    batch.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast(Dec)).as("s"),
        min(col(valueCol)).as("mn"),
        max(col(valueCol)).as("mx"))

  /** Persist a batch's partials and commit it. Idempotent per batch id:
    * the write owns exactly `data/batch=<id>` and the marker lands only
    * after the data, so a crashed attempt is invisible and a replay is
    * exact.
    */
  def writeBatch(partialRows: DataFrame, path: String, batchId: Long): Unit =
    IndexCommits.dataStore(partialRows.sparkSession, path)
      .write(batchId, partialRows)

  /** Per-key HLL sketch partials of one batch — the MERGEABLE
    * distinct-count unit (a distinct count itself does not merge across
    * batches; the sketch does, which is the whole reason sketches exist
    * at 100 TB). Datasketches HLL via the native hll_sketch_agg
    * aggregate; persist through [[writeBatch]] like any other partial.
    */
  def sketchPartials(batch: DataFrame, keyCol: String,
                     valueCol: String): DataFrame =
    batch.groupBy(col(keyCol))
      .agg(expr(s"hll_sketch_agg($valueCol, 12)").as("sk"))

  /** Serve the merged distinct-count estimate from COMMITTED sketch
    * batches (hll_union_agg over keys × batches sketch rows — facts
    * never rescanned for the estimate), gated against the exact count
    * the caller supplies: the output carries the exact value
    * (hash-checked cross-engine) plus a boolean asserting the merged
    * estimate lands within `tol` of it — the ev_sketch bounded-error
    * oracle pattern, so a broken merge fails the round while in-bound
    * sketch wobble does not.
    */
  def serveDistinct(spark: SparkSession, path: String, facts: DataFrame,
                    keyCol: String, valueCol: String,
                    tol: Double = 0.05): DataFrame = {
    val merged = IndexCommits.dataStore(spark, path).served()
      .groupBy(col(keyCol))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("__est"))
    val exact = facts.groupBy(col(keyCol))
      .agg(countDistinct(col(valueCol)).as("exact_distinct"))
    exact.join(merged, keyCol)
      .select(col(keyCol), col("exact_distinct"),
        when(col("exact_distinct") === 0, col("__est") === 0)
          .otherwise(abs(col("__est") - col("exact_distinct")) /
            col("exact_distinct") < tol)
          .as("hll_within_tol"))
      .orderBy(col(keyCol))
  }

  /** Serve the merged aggregate from COMMITTED batches only: sum the
    * counts and decimal sums, min/max the extrema, derive the average
    * from the merged pair. Input is keys × batches rows — the fact table
    * is never touched. `asOf` time-travels the VIEW: only batches with
    * id ≤ asOf replay (sound because batch ids are monotone — the same
    * marker-replay contract as the index layouts), so a reader sees the
    * aggregate exactly as it stood after that batch committed.
    */
  def serve(spark: SparkSession, path: String, keyCol: String,
            asOf: Option[Long] = None): DataFrame = {
    val store = IndexCommits.dataStore(spark, path)
    val parts = store.served(store.snapshot(asOf.getOrElse(Long.MaxValue)))
    parts.groupBy(col(keyCol))
      .agg(sum(col("n")).as("n"),
        sum(col("s")).as("__s"),
        min(col("mn")).as("min_v"),
        max(col("mx")).as("max_v"))
      .select(col(keyCol), col("n"),
        col("__s").cast("double").as("total"),
        col("min_v"), col("max_v"),
        (col("__s").cast("double") / col("n")).as("avg_v"))
  }
}
