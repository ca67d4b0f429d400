package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data profiling — the quality report every curation pipeline runs
  * before and after each stage (null rates, cardinalities, value ranges).
  *
  * One aggregation pass over the table produces every column's stats
  * (the multi-`countDistinct` plans through Expand — rows replicated per
  * distinct set, partial-aggregated before the single exchange), and the
  * one-row result is exploded to a (column, stats) long format. At
  * 100 TB this is one scan + one 1-row shuffle; never N per-column scans.
  */
object Profile {

  /** Per-column stats for the given columns: non-null count, distinct
    * count, min/max (as strings, so mixed column types share one output
    * schema), plus the table row count on every row.
    */
  def table(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"${c}__nonnull"),
      countDistinct(col(c)).as(s"${c}__distinct"),
      min(col(c)).cast("string").as(s"${c}__min"),
      max(col(c)).cast("string").as(s"${c}__max")))
    val agged = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map(c => struct(
      lit(c).as("col_name"),
      col(s"${c}__nonnull").as("n_nonnull"),
      col(s"${c}__distinct").as("n_distinct"),
      col(s"${c}__min").as("min_s"),
      col(s"${c}__max").as("max_s")))
    agged.select(explode(array(entries: _*)).as("p"), col("__n").as("n_rows"))
      .select(col("p.col_name"), col("p.n_nonnull"), col("p.n_distinct"),
        col("p.min_s"), col("p.max_s"), col("n_rows"))
  }

  /** [[table]] with SKETCHED distinct counts — the 100 TB profile shape.
    *
    * `countDistinct` per column plans through Expand: every row is
    * replicated once per distinct set before the partial aggregate, so
    * profiling N columns aggregates the corpus N+1 times over. Here each
    * column instead feeds a [[graft.functions.KmvSketchAgg]] KMV sketch
    * (k smallest distinct md5-derived 52-bit hashes, k·8 bytes of
    * mergeable state) — ONE aggregation of each row per column, no
    * Expand, and the estimate is deterministic and DuckDB-replayable
    * (no RNG; the oracle re-derives the exact same k-minimum hash list
    * with ORDER BY LIMIT and replays the estimator arithmetic).
    *
    * Report: n_distinct_est is EXACT (the sketch saw every distinct
    * value) while a column's cardinality is < k — `est_is_exact` says
    * so; above k it is the unbiased KMV estimate (k−1)/u_k with
    * expected relative standard error `est_rse` = 1/√(k−2) (Beyer et
    * al. 2007). ProfileSpec gates the estimate against exact
    * countDistinct within 4·RSE on the fixtures.
    */
  // 13 hex digits = 52 bits: the hash stays exactly representable as
  // a double, so the KMV estimator division is identical in both engines
  private def hash52(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("string")), 1, 13), 16, 10).cast("long")

  /** The KMV estimate from a k-minimum-hash sketch array: EXACT count
    * (the sketch saw every distinct) below k, else the unbiased
    * (k−1)/u_k with u_k = the kth minimum rescaled to (0,1] (Beyer et
    * al. 2007). ONE definition shared by every sketch consumer — the
    * estimator is part of the oracle contract, and a second copy could
    * silently diverge from the DuckDB replays.
    */
  private def kmvEstimate(sketch: org.apache.spark.sql.Column,
                          k: Int): org.apache.spark.sql.Column =
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (element_at(sketch, k).cast("double") /
          lit(graft.functions.KmvSketch.HashScale)))

  def tableSketch(df: DataFrame, cols: Seq[String], k: Int = 256): DataFrame = {
    val rse = 1.0 / math.sqrt(k - 2.0)
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"${c}__nonnull"),
      graft.functions.KmvSketch.kmv(hash52(col(c)), k).as(s"${c}__kmv"),
      min(col(c)).cast("string").as(s"${c}__min"),
      max(col(c)).cast("string").as(s"${c}__max")))
    val agged = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map { c =>
      val sk = col(s"${c}__kmv")
      val est = kmvEstimate(sk, k)
      struct(
        lit(c).as("col_name"),
        col(s"${c}__nonnull").as("n_nonnull"),
        est.as("n_distinct_est"),
        (size(sk) < k).as("est_is_exact"),
        lit(rse).as("est_rse"),
        col(s"${c}__min").as("min_s"),
        col(s"${c}__max").as("max_s"))
    }
    agged.select(explode(array(entries: _*)).as("p"), col("__n").as("n_rows"))
      .select(col("p.col_name"), col("p.n_nonnull"), col("p.n_distinct_est"),
        col("p.est_is_exact"), col("p.est_rse"), col("p.min_s"),
        col("p.max_s"), col("n_rows"))
  }

  /** Cardinality-DRIFT gate between a reference and a current snapshot —
    * the sketch-path complement of [[drift]]/[[driftByKey]] (which compare
    * DISTRIBUTIONS over bounded buckets): per profiled column, did the
    * number of distinct values move, and did the VALUES themselves churn?
    * The signals a histogram can't see — a crawl that doubled its distinct
    * URL count, or replaced half its vocabulary at identical bucket
    * counts — and exactly the checks that would otherwise read a
    * per-snapshot `countDistinct` (Expand, corpus re-aggregated per
    * column) at 100 TB.
    *
    * Each snapshot is aggregated ONCE (a [[graft.functions.KmvSketchAgg]]
    * per column — no Expand, k·8 bytes of state per column), the two
    * 1-row sketch frames cross-join (broadcast, 1×1), and everything
    * else is arithmetic on the sketches:
    *  - `ref_distinct_est` / `cur_distinct_est`: the KMV estimate
    *    (k−1)/u_k per side, EXACT below k (`*_est_is_exact`);
    *  - `card_ratio`: cur/ref estimate ratio (NULL when ref is empty —
    *    novel mass is its own signal, as in [[drift]]);
    *  - `jaccard_est`: distinct-VALUE churn via KMV set algebra (Beyer
    *    et al. 2007) — the k smallest of the union of the two sketches
    *    ARE the union's true k-minima (any union k-minimum is a k-minimum
    *    of its side), and for those hashes sketch membership is exact
    *    (union's u_k ≤ each side's u_k), so |sketch∩both| / |union
    *    sketch| estimates J(ref, cur) with the same 1/√(k−2) RSE. NULL
    *    when both sides are all-null.
    *
    * Determinism: hashes are 52-bit md5 prefixes (exact as doubles),
    * min-k and set membership are order-independent integer algebra,
    * and the estimator divisions are double ops on identical integers —
    * the DuckDB oracle replays every column bit-for-bit
    * (`dq_drift_sketch`). Accuracy vs exact per-side countDistinct and
    * exact Jaccard is spec-gated (ProfileSpec).
    */
  def driftSketch(ref: DataFrame, cur: DataFrame, cols: Seq[String],
                  k: Int = 256): DataFrame = {
    val rse = 1.0 / math.sqrt(k - 2.0)
    def side(df: DataFrame, t: String): DataFrame = {
      val aggs = cols.map(c =>
        graft.functions.KmvSketch.kmv(hash52(col(c)), k).as(s"${c}__$t"))
      df.agg(aggs.head, aggs.tail: _*)
    }
    def est(a: org.apache.spark.sql.Column) = kmvEstimate(a, k)
    val joined = side(ref, "r").crossJoin(side(cur, "c"))
    val entries = cols.map { c =>
      val ra = col(s"${c}__r"); val ca = col(s"${c}__c")
      // union's k-minima, recovered exactly from the two k-truncated
      // sketches; intersect membership is exact within them (see doc)
      val u = slice(array_sort(array_union(ra, ca)), 1, k)
      val both = array_intersect(u, array_intersect(ra, ca))
      struct(
        lit(c).as("col_name"),
        est(ra).as("ref_distinct_est"),
        est(ca).as("cur_distinct_est"),
        (size(ra) < k).as("ref_est_is_exact"),
        (size(ca) < k).as("cur_est_is_exact"),
        when(est(ra) > 0, est(ca) / est(ra))
          .otherwise(lit(null).cast("double")).as("card_ratio"),
        when(size(u) > 0, size(both).cast("double") / size(u).cast("double"))
          .otherwise(lit(null).cast("double")).as("jaccard_est"),
        lit(rse).as("est_rse"))
    }
    joined.select(explode(array(entries: _*)).as("p"))
      .select(col("p.col_name"), col("p.ref_distinct_est"),
        col("p.cur_distinct_est"), col("p.ref_est_is_exact"),
        col("p.cur_est_is_exact"), col("p.card_ratio"),
        col("p.jaccard_est"), col("p.est_rse"))
      .orderBy(col("col_name"))
  }

  /** One batch's KMV-profile partial — the MERGEABLE unit of
    * [[tableSketch]]: one row per profiled column carrying the batch's
    * k-minimum-hash sketch, non-null count, and batch row count.
    * Persist through [[IncrementalAgg.writeBatch]] (commit-markered)
    * like any other partial.
    *
    * Why this beats the HLL partials of `inc_distinct` where it
    * applies: KMV's merge is EXACT set algebra (union of per-batch
    * k-minima ⊇ the global k-minima, so min-k over partials EQUALS the
    * one-pass sketch — a semilattice, no wobble), which makes the
    * served incremental ESTIMATE hash-gateable against a one-pass
    * DuckDB replay, not merely tolerance-gated.
    */
  def sketchProfilePartials(batch: DataFrame, cols: Seq[String],
                            k: Int = 256): DataFrame = {
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"${c}__nn"),
      graft.functions.KmvSketch.kmv(hash52(col(c)), k).as(s"${c}__kmv")))
    val agged = batch.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map(c => struct(
      lit(c).as("col_name"),
      col(s"${c}__nn").as("n_nonnull"),
      col(s"${c}__kmv").as("kmv")))
    agged.select(explode(array(entries: _*)).as("p"), col("__n").as("n_rows"))
      .select(col("p.col_name"), col("p.n_nonnull"), col("p.kmv"),
        col("n_rows"))
  }

  /** Serve the merged KMV profile from COMMITTED partial batches: facts
    * are never rescanned — the input is cols × batches sketch rows.
    * min-k over the unioned per-batch minima (a distinct + one
    * per-column window over ≤ cols·batches·k rows), counts summed.
    * Output schema and estimator arithmetic are [[tableSketch]]'s
    * (minus min/max, whose string casts don't merge), and BY THE MERGE
    * ALGEBRA the report is bit-identical to a one-pass tableSketch —
    * so the `inc_profile_sketch` oracle replays the single-pass SQL
    * and hash-matches the incremental serve.
    */
  def serveSketchProfile(spark: org.apache.spark.sql.SparkSession,
                         path: String, k: Int = 256): DataFrame = {
    val rse = 1.0 / math.sqrt(k - 2.0)
    val parts = graft.core.IndexCommits.dataStore(spark, path).served()
    val sums = parts.groupBy(col("col_name"))
      .agg(sum(col("n_nonnull")).as("n_nonnull"),
        sum(col("n_rows")).as("n_rows"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("col_name")).orderBy(col("h"))
    val topk = parts.select(col("col_name"), explode(col("kmv")).as("h"))
      .distinct()
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
    val agg = topk.groupBy(col("col_name"))
      .agg(count(lit(1)).as("__nsk"),
        max(when(col("__r") === k, col("h"))).as("__hk"))
    val nsk = coalesce(col("__nsk"), lit(0L)) // all-null column: no hashes
    val est = when(nsk < k, nsk.cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (col("__hk").cast("double") /
          lit(graft.functions.KmvSketch.HashScale)))
    sums.join(agg, Seq("col_name"), "left")
      .select(col("col_name"), col("n_nonnull").cast("long").as("n_nonnull"),
        est.as("n_distinct_est"), (nsk < k).as("est_is_exact"),
        lit(rse).as("est_rse"), col("n_rows").cast("long").as("n_rows"))
      .orderBy(col("col_name"))
  }

  /** Constraint-expectation gate (the dbt-test / Great-Expectations
    * shape): each rule is a row-level boolean predicate the data is
    * EXPECTED to satisfy; the report carries one row per rule with its
    * violation count, evaluated in ONE conditional-aggregation pass —
    * `sum(CASE WHEN NOT rule …)` per rule over a single scan, never a
    * scan per rule. NULL predicate results (e.g. a comparison against a
    * null column) count as violations: an expectation that cannot be
    * shown true is not satisfied.
    *
    * The report is data, not control flow — callers gate on
    * `n_violations > 0` (or wire it to raise_error) so the check
    * composes into pipelines and its history can be written next to the
    * batch ledger.
    */
  def expect(df: DataFrame,
             rules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(rules.nonEmpty, "at least one expectation rule")
    // outer coalesce: sum() over an EMPTY relation is NULL, and a
    // vacuously-clean empty batch must report 0 violations, not a NULL
    // that fails the caller's `n_violations === 0` gate
    val aggs = count(lit(1)).as("__n") +: rules.zipWithIndex.map {
      case ((_, rule), i) =>
        coalesce(sum(when(coalesce(rule, lit(false)), 0L).otherwise(1L)),
          lit(0L)).as(s"__v_$i")
    }
    val agged = df.agg(aggs.head, aggs.tail: _*)
    val entries = rules.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("rule"), col(s"__v_$i").as("n_violations"))
    }
    agged.select(explode(array(entries: _*)).as("r"), col("__n").as("n_rows"))
      .select(col("r.rule"), col("r.n_violations"), col("n_rows"))
  }

  /** Distribution-DRIFT gate between a reference and a current snapshot
    * of a [0,1] score — the check that catches "the new crawl's quality
    * distribution silently shifted" before a filter tuned on last
    * month's corpus silently over- or under-cuts this month's. Both
    * relations histogram over the same fixed `buckets` bins, and each
    * bucket reports its two-sample CHI-SQUARE contribution
    * `(cur − e)² / e`, where `e` is the reference count scaled to the
    * current total — pure +,×,÷ on integer counts (no logs: a PSI/KL
    * formulation would drag libm `ln` into the oracle gate). Σ contrib
    * over buckets is the test statistic, left to the caller so the
    * per-bucket attribution (WHICH quality band drifted) stays visible.
    * A bucket absent from the reference (`ref_n = 0`, novel mass)
    * reports a NULL contribution rather than a division by zero —
    * callers treat novel mass as its own signal.
    *
    * Plan shape at 100 TB: tag + union + ONE conditional-aggregation
    * pass (map-side combined, ≤ `buckets` groups), a 1-row totals
    * aggregate broadcast back — never a join between the snapshots,
    * never a per-bucket scan.
    */
  /** The shared [0,1]-score binning: bucket i covers [i/b, (i+1)/b),
    * clamped into range so boundary scores can't fall off either end.
    */
  def scoreBucket(score: org.apache.spark.sql.Column, buckets: Int)
      : org.apache.spark.sql.Column =
    least(greatest(floor(score * buckets), lit(0)), lit(buckets - 1))
      .cast("int")

  def drift(ref: DataFrame, cur: DataFrame,
            score: org.apache.spark.sql.Column, buckets: Int): DataFrame =
    driftHistogram(ref, cur, scoreBucket(score, buckets), "bucket")

  /** [[drift]] over a CATEGORICAL key (language, source, format...) —
    * the mix-shift gate: "did this crawl's language distribution move?"
    * Same chi-square-per-group contract, grouped by the key's values
    * instead of score buckets (NULL keys form their own group, the
    * null-stratum convention). Caller contract: bounded-cardinality
    * keys — the histogram is collected implicitly by the driver-facing
    * result, exactly like every stratified operator here.
    */
  def driftByKey(ref: DataFrame, cur: DataFrame,
                 key: org.apache.spark.sql.Column): DataFrame =
    driftHistogram(ref, cur, key, "key")

  private def driftHistogram(ref: DataFrame, cur: DataFrame,
                             group: org.apache.spark.sql.Column,
                             groupName: String): DataFrame = {
    def tagged(df: DataFrame, t: Int): DataFrame =
      df.select(group.as(groupName), lit(t).as("__t"))
    val h = tagged(ref, 0).unionByName(tagged(cur, 1))
      .groupBy(col(groupName))
      .agg(sum(when(col("__t") === 0, 1L).otherwise(0L)).as("ref_n"),
        sum(when(col("__t") === 1, 1L).otherwise(0L)).as("cur_n"))
    chi2Report(h, groupName)
  }

  /** The drift gate's scoring tail over an already-merged histogram
    * (groupName, ref_n, cur_n) — shared between the batch gates above
    * and [[driftServe]]'s merged streaming partials, so both compute
    * the identical chi-square contributions.
    */
  private[graft] def chi2Report(h: DataFrame, groupName: String): DataFrame = {
    val totals = h.agg(sum("ref_n").as("__nr"), sum("cur_n").as("__nc"))
    val e = col("ref_n").cast("double") *
      (col("__nc").cast("double") / col("__nr").cast("double"))
    h.crossJoin(broadcast(totals))
      .select(col(groupName), col("ref_n"), col("cur_n"),
        when(col("ref_n") > 0,
          (col("cur_n").cast("double") - e) *
            (col("cur_n").cast("double") - e) / e)
          .otherwise(lit(null).cast("double")).as("chi2_contrib"))
      // NULLS LAST explicitly: Spark ASC defaults nulls-first, DuckDB
      // nulls-last — a NULL key group would flip row order between the
      // engines and fail the order-sensitive oracle hash
      .orderBy(col(groupName).asc_nulls_last)
  }

  /** Per-group z-score outlier gate: ONE aggregation pass computes each
    * group's (n, Σv, Σv²) through exact decimals, the tiny per-group
    * stats broadcast back, and rows flag as outliers when
    * |v − mean| > z·σ (population σ from the moment pair). Output is
    * one row per group — n, mean, σ, outlier count/fraction — the gate
    * a pipeline trips before accepting a batch.
    *
    * Determinism: mean and σ derive from exact decimal sums, so both
    * are bit-identical cross-engine, and the per-row flag compares the
    * same doubles. NULL values never flag (NULL comparison → no) but DO
    * count in n — consistent in both engines. A NULL group KEY is
    * excluded from the report entirely: the stats join back to the rows
    * is an equi-join, and NULL = NULL matches in neither engine — the
    * deliberate contract (gate keys are dimensions; a null dimension is
    * a data-quality failure for [[expect]], not a group to z-score).
    * Scale: one narrow agg + one broadcast join; nothing group-sized
    * crosses an exchange twice.
    */
  def outlierGate(df: DataFrame, keyCol: String, valueCol: String,
                  z: Double): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(28, 8)
    val stats = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast(dec)).cast("double").as("__s"),
        sum((col(valueCol) * col(valueCol)).cast(dec)).cast("double")
          .as("__s2"))
      .select(col(keyCol), col("n"),
        (col("__s") / col("n")).as("mean"),
        sqrt(greatest(col("__s2") / col("n") -
          (col("__s") / col("n")) * (col("__s") / col("n")), lit(0.0)))
          .as("std"))
    df.join(broadcast(stats), keyCol)
      .groupBy(col(keyCol), col("n"), col("mean"), col("std"))
      .agg(sum(when(abs(col(valueCol) - col("mean")) > lit(z) * col("std"),
          1L).otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_frac",
        col("n_outliers").cast("double") / col("n"))
      .orderBy(col(keyCol).asc_nulls_last)
  }

  /** Exact quantiles WITHOUT a global sort — histogram-guided selection,
    * the mergeable-sketch pattern every profiling pass needs at 100 TB:
    *
    *   1. one pass: exact min/max/count (1-row aggregate);
    *   2. one pass: an equi-width `bins`-bin histogram — per-partition
    *      partial counts merge associatively (THE mergeable sketch;
    *      ≤ `bins` rows cross the exchange);
    *   3. per requested q: the cumulative histogram locates the single
    *      bin holding order statistic ⌈q·n⌉ and how deep in that bin it
    *      sits, and a TakeOrdered over JUST that bin's rows (expected
    *      n/bins of the data, scanned but never globally sorted) reads
    *      the exact value.
    *
    * The histogram alone already answers with error ≤ one bin width
    * (the `est` column, and the `within_bin` gate pins |exact−est| to
    * it); the residual selection upgrades the answer to EXACT for one
    * extra filtered scan. Size `bins` so n/bins rows fit one driver
    * TakeOrdered — 4096 bins puts a 10¹²-row column at ~2.4·10⁸ rows
    * per bin; for heavier tails raise `bins` (the histogram relation
    * stays tiny either way).
    *
    * Cross-engine exactness: bin indexes are ⌊(v−min)/width⌋ on IEEE
    * doubles both engines compute identically; the order statistic is a
    * VALUE AT A POSITION (no interpolation, no tie sensitivity), so the
    * result hash-matches an engine that finds it by brute-force sort.
    * NULL values are excluded (quantiles are over present values).
    */
  def quantilesExact(df: DataFrame, valueCol: String, qs: Seq[Double],
                     bins: Int = 256): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), "qs in (0,1]")
    require(bins >= 2, "at least two bins")
    val vals = df.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val stats0 = vals.agg(count(lit(1)).as("n"), min(col("__v")).as("lo"),
      max(col("__v")).as("hi")).head()
    val n = stats0.getLong(0)
    require(n > 0, s"no non-null values in $valueCol")
    val (lo, hi) = (stats0.getDouble(1), stats0.getDouble(2))
    val width = (hi - lo) / bins
    val binCol =
      if (width == 0.0) lit(0)
      else least(floor((col("__v") - lit(lo)) / lit(width)), lit(bins - 1))
        .cast("int")
    // the mergeable sketch: <= `bins` rows, collected once
    val hist = vals.select(binCol.as("__b")).groupBy(col("__b"))
      .agg(count(lit(1)).as("__c")).orderBy(col("__b"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val cum = hist.scanLeft((Int.MinValue, 0L)) {
      case ((_, acc), (b, c)) => (b, acc + c) }.drop(1)
    val spark = df.sparkSession
    val perQ = qs.map { q =>
      val pos = math.ceil(q * n).toLong max 1L
      val (bin, cumBefore) = {
        val i = cum.indexWhere(_._2 >= pos)
        (cum(i)._1, if (i == 0) 0L else cum(i - 1)._2)
      }
      val posInBin = pos - cumBefore
      require(posInBin <= Int.MaxValue,
        s"bin for q=$q holds >2^31 rows before the target — raise `bins`")
      val est = if (width == 0.0) lo else lo + bin * width
      // residual selection: ~n/bins rows filtered, TakeOrdered posInBin
      val exact = vals.filter(binCol === bin)
        .orderBy(col("__v")).limit(posInBin.toInt)
        .agg(max(col("__v"))).head().getDouble(0)
      (q, exact, est, math.abs(exact - est) <= (if (width == 0.0) 0.0 else width))
    }
    import spark.implicits._
    perQ.toDF("q", "quantile", "est", "within_bin").orderBy(col("q"))
  }

  /** [[quantilesExact]] PER KEY — grouped exact quantiles with no
    * per-key scans and no global sort, for bounded-cardinality keys
    * (the stratified-operator contract): one pass computes every key's
    * (n, lo, hi); one pass builds every key's equi-width histogram
    * (per-key bin geometry via a broadcast stats join — ≤ keys×bins
    * tiny rows collected); the driver locates each (key, q) order
    * statistic's bin; and ONE final pass reads every exact value
    * together — the target (key, bin, pos) set broadcast-joins onto
    * the rows, and a window partitioned by (key, bin) ranks only the
    * ~n/bins-rows-per-target subset. Three scans total for ANY number
    * of keys × quantiles, vs keys×qs filtered scans for the naive
    * per-key loop. NULL values are excluded; NULL keys are excluded
    * (the gate-key dimension contract, as [[outlierGate]]).
    */
  def quantilesByKey(df: DataFrame, keyCol: String, valueCol: String,
                     qs: Seq[Double], bins: Int = 256): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), "qs in (0,1]")
    require(bins >= 2, "at least two bins")
    val spark = df.sparkSession
    import spark.implicits._
    val vals = graft.core.Caches.track(
      df.select(col(keyCol).cast("string").as("__k"),
          col(valueCol).cast("double").as("__v"))
        .filter(col("__k").isNotNull && col("__v").isNotNull))
    val stats = vals.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"), min(col("__v")).as("__lo"),
        max(col("__v")).as("__hi"))
    val statRows = stats.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    def binColFor(lo: org.apache.spark.sql.Column,
                  width: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      when(width === 0.0, lit(0))
        .otherwise(least(floor((col("__v") - lo) / width), lit(bins - 1))
          .cast("int"))
    val withBin = vals.join(broadcast(stats), Seq("__k"))
      .withColumn("__w", (col("__hi") - col("__lo")) / bins)
      .withColumn("__b", binColFor(col("__lo"), col("__w")))
    val hist = withBin.groupBy(col("__k"), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    // driver: locate each (key, q)'s bin + in-bin position
    val targets = for {
      (k, (n, lo, hi)) <- statRows.toSeq
      q <- qs
    } yield {
      val width = (hi - lo) / bins
      val pos = math.ceil(q * n).toLong max 1L
      val cum = (0 until bins).scanLeft(0L)((acc, b) =>
        acc + hist.getOrElse((k, b), 0L)).drop(1)
      val bin = cum.indexWhere(_ >= pos)
      val posInBin = pos - (if (bin == 0) 0L else cum(bin - 1))
      require(posInBin <= Int.MaxValue,
        s"bin for ($k, q=$q) holds >2^31 rows before the target — raise `bins`")
      val est = if (width == 0.0) lo else lo + bin * width
      (k, q, bin, posInBin, est, if (width == 0.0) 0.0 else width)
    }
    val tdf = targets.toDF("__k", "q", "__b", "__pos", "est", "__w2")
    // the one residual pass: rank only rows in targeted (key, bin) cells
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k"), col("__b")).orderBy(col("__v"))
    withBin.join(broadcast(tdf.select(col("__k"), col("__b")).distinct()),
        Seq("__k", "__b"), "left_semi")
      .withColumn("__rn", row_number().over(w))
      .join(broadcast(tdf),
        Seq("__k", "__b")) // row qualifies for any target in its cell
      .filter(col("__rn") === col("__pos"))
      .select(col("__k").as("key"), col("q"), col("__v").as("quantile"),
        col("est"),
        (abs(col("__v") - col("est")) <= col("__w2")).as("within_bin"))
      .orderBy(col("key"), col("q"))
  }

  /** Pairwise Pearson correlation matrix over numeric columns in ONE
    * scan — the feature-redundancy profile a curation pipeline checks
    * before trusting a scorer ("is this quality signal just length
    * again?"). All C(k,2) pairs share a single aggregation pass:
    * per-column Σx and Σx², per-pair Σxy, every sum staged through
    * DECIMAL(38,14) so the moments are exact and order-independent;
    * the 1-row moment vector then expands to the pair rows driver-free
    * (explode over literal structs). At 100 TB: one scan reading only
    * the k requested columns, one 1-row exchange — never a pass per
    * pair, never a join.
    *
    * Complete-case contract: rows with a NULL in ANY requested column
    * are dropped first, so every pair correlates over the same n (the
    * statistically honest default; per-pair n would mix populations).
    * A zero-variance column yields NULL correlations (not NaN), and the
    * variance guard runs on the same doubles both engines derive from
    * the exact sums, so even the guard decision is engine-identical.
    */
  def correlations(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    import org.apache.spark.sql.types.DecimalType
    // INTEGER moments: each value quantizes once to a ×100 integer
    // (exact for 2-decimal measures — money, rates, counts; a
    // documented 0.01 rounding otherwise), and every product and sum
    // after that is pure integer arithmetic in DECIMAL(·,0) — exact in
    // any engine, and correlation is scale-invariant so the ×100 drops
    // out. Two rejected stagings, both MEASURED to drift ~5e-16
    // relative on lineitem: (a) decimal-staged double products (the
    // dotExact pattern) — a price² ~1e10 at scale 14 asks for 24
    // significant digits, beyond double's ~16, where Spark's
    // shortest-repr double→decimal cast and an exact-binary-expansion
    // cast legitimately disagree; (b) fractional-decimal moments — the
    // final big-DECIMAL(38,12)→double cast is not correctly rounded in
    // every engine (measured 1-ulp off), while integer→double is.
    // scan-stage arithmetic stays in LONG (whole-stage-codegen
    // primitive ops — measured ~3× cheaper than per-row decimal
    // multiplies); only the per-row addend crossing into the sum is
    // cast to decimal, whose exact accumulator carries the total past
    // int64 range. Per-row overflow contract: |value| ≤ ~3e7 (×100 →
    // 3e9; squared → 9e18 < 2^63), far above any measure column.
    val sdec = DecimalType(38, 0)
    val clean = df.na.drop(cols)
      .select(cols.map(c => round(col(c) * 100).cast("long").as(c)): _*)
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = count(lit(1)).as("__n") +:
      (cols.flatMap(c => Seq(
        sum(col(c).cast(sdec)).cast("double").as(s"__s_$c"),
        sum((col(c) * col(c)).cast(sdec)).cast("double").as(s"__ss_$c"))) ++
        pairs.map { case (a, b) =>
          sum((col(a) * col(b)).cast(sdec)).cast("double")
            .as(s"__sp_${a}__$b")
        })
    val m = clean.agg(aggs.head, aggs.tail: _*)
    val n = col("__n").cast("double")
    // division-FIRST moment forms (E[x²]−mean², E[xy]−mean·mean), the
    // repo's proven cross-engine shape (outlierGate, dailyAnomalies):
    // the algebraically equal n·Σx² − (Σx)² form cancels at ~n²·x²
    // magnitude, where the two engines' last-bit behavior diverges
    // (measured: 6e-16 relative drift on lineitem at sf0.01)
    def mean(c: String): org.apache.spark.sql.Column = col(s"__s_$c") / n
    def variance(c: String): org.apache.spark.sql.Column =
      col(s"__ss_$c") / n - mean(c) * mean(c)
    val entries = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        when(variance(a) > 0 && variance(b) > 0,
          (col(s"__sp_${a}__$b") / n - mean(a) * mean(b)) /
            (sqrt(variance(a)) * sqrt(variance(b))))
          .otherwise(lit(null).cast("double")).as("corr"))
    }
    m.select(col("__n").as("n"), explode(array(entries: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("n"), col("p.corr"))
      .orderBy(col("col_a"), col("col_b"))
  }

  /** WINSORIZATION report — outlier treatment by clipping instead of
    * [[outlierGate]]'s flagging: per key, values clip to that key's
    * [pLo, pHi] percentile band (boundaries from ONE exact percentile
    * aggregate, broadcast back — the no-global-sort RFM pattern), and
    * the report carries clip counts plus the mean before/after through
    * exact decimal sums — the "how much did the tail move my mean"
    * answer a feature pipeline wants before shipping a clipped column.
    * One scan + one keyed aggregate + a broadcast join; nothing
    * key-sized crosses an exchange twice.
    */
  def winsorize(df: DataFrame, keyCol: String, valueCol: String,
                pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "0 <= pLo < pHi <= 1")
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(28, 8)
    val v = col(valueCol)
    val th = df.groupBy(col(keyCol))
      .agg(percentile(v, typedlit(Seq(pLo, pHi))).as("__t"))
    val lo = element_at(col("__t"), 1)
    val hi = element_at(col("__t"), 2)
    val clipped = least(greatest(v, lo), hi)
    df.join(broadcast(th), Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(v < lo, 1L).otherwise(0L)), lit(0L))
          .as("n_clipped_lo"),
        coalesce(sum(when(v > hi, 1L).otherwise(0L)), lit(0L))
          .as("n_clipped_hi"),
        (sum(v.cast(dec)).cast("double") / count(lit(1)))
          .as("mean_before"),
        (sum(clipped.cast(dec)).cast("double") / count(lit(1)))
          .as("mean_after"))
      .orderBy(col(keyCol))
  }

  /** One snapshot's mergeable drift-histogram partial: bucket counts
    * tagged onto the (ref_n, cur_n) pair so reference and current
    * batches share one schema and one merge (a SUM per column). The
    * reference snapshot writes as `asRef = true` (usually once, batch
    * 0); every monitored ingest batch writes `asRef = false`. Bucket
    * counts are algebraic, so the merged histogram — and therefore the
    * chi-square report — is bit-identical to the batch [[drift]] gate
    * over the same rows, which is exactly what the stream_drift oracle
    * asserts.
    */
  def driftPartials(df: DataFrame, score: org.apache.spark.sql.Column,
                    buckets: Int, asRef: Boolean): DataFrame = {
    val n = count(lit(1))
    df.select(scoreBucket(score, buckets).as("bucket"))
      .groupBy(col("bucket"))
      .agg((if (asRef) n else lit(0L)).as("ref_n"),
        (if (asRef) lit(0L) else n).as("cur_n"))
  }

  /** Serve the drift gate from committed streaming partials: merge the
    * committed batches' (bucket, ref_n, cur_n) rows (≤ buckets ×
    * batches tiny rows — the monitored stream is never rescanned) and
    * run the shared chi-square tail. Crash/replay semantics are the
    * [[IncrementalAgg]] contract: an unmarked batch directory is
    * invisible, a replayed id rewrites exactly its own subtree.
    */
  def driftServe(spark: org.apache.spark.sql.SparkSession,
                 path: String): DataFrame = {
    val h = graft.core.IndexCommits.dataStore(spark, path).served()
      .groupBy(col("bucket"))
      .agg(sum(col("ref_n")).as("ref_n"), sum(col("cur_n")).as("cur_n"))
    chi2Report(h, "bucket")
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic — the
    * distribution-free drift test on the CONTINUOUS score itself,
    * complementing [[drift]]'s chi-square (which needs a binning choice
    * and only sees bucket masses; KS sees every quantile): D = max over
    * sample points of |F_a(x) − F_b(x)|, the ECDFs evaluated at every
    * distinct value of either sample.
    *
    * No global sort: distinct values group with their per-side counts,
    * an equi-width `bins`-cell histogram locates each value's bin, the
    * ≤ bins bin totals collect once to compute exclusive prefix
    * offsets, and one window pass PARTITIONED BY BIN (ordered by value
    * within it) adds in-bin running counts to the broadcast offsets —
    * the [[quantilesExact]] two-level discipline, so the only
    * single-partition work is the bins-sized totals, never the value
    * relation. Exactness: cumulative counts are integers, the ECDF
    * divisions and |·| are single IEEE ops, the max is
    * order-independent, and the argmax reports the SMALLEST value
    * achieving D — bit-identical to a plain windowed oracle.
    *
    * @return one row: (n_a, n_b, d_stat, d_at, ks_scaled) where d_at is
    *         the smallest value achieving D and ks_scaled =
    *         sqrt(n_a·n_b/(n_a+n_b))·D (the scale-free statistic
    *         compared against Kolmogorov critical values, e.g. 1.358
    *         for α=0.05).
    */
  def ksTest(a: DataFrame, b: DataFrame, valueCol: String,
             bins: Int = 256): DataFrame = {
    require(bins >= 2, "at least two bins")
    def side(df: DataFrame, tag: Int): DataFrame =
      df.select(col(valueCol).cast("double").as("__v"))
        .filter(col("__v").isNotNull)
        .select(col("__v"), lit(tag).as("__g"))
    val vals = graft.core.Caches.track(
      side(a, 0).unionByName(side(b, 1))
        .groupBy(col("__v"))
        .agg(sum(when(col("__g") === 0, 1L).otherwise(0L)).as("__ca"),
          sum(when(col("__g") === 1, 1L).otherwise(0L)).as("__cb")))
    val st = vals.agg(sum(col("__ca")), sum(col("__cb")),
      min(col("__v")), max(col("__v"))).head()
    val (na, nb) = (st.getLong(0), st.getLong(1))
    require(na > 0 && nb > 0, "both samples must be non-empty")
    val (lo, hi) = (st.getDouble(2), st.getDouble(3))
    val width = (hi - lo) / bins
    val binCol =
      if (width == 0.0) lit(0)
      else least(floor((col("__v") - lit(lo)) / lit(width)), lit(bins - 1))
        .cast("int")
    val binned = vals.withColumn("__b", binCol)
    // exclusive per-bin prefix offsets: <= bins rows, collected once
    val totals = binned.groupBy(col("__b"))
      .agg(sum(col("__ca")).as("ta"), sum(col("__cb")).as("tb"))
      .orderBy(col("__b"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val offsets = totals.scanLeft((-1, 0L, 0L)) {
      case ((_, accA, accB), (bin, ta, tb)) => (bin, accA + ta, accB + tb)
    }.sliding(2).map { case Array((_, oa, ob), (bin, _, _)) =>
      (bin, oa, ob)
    }.toSeq
    val spark = a.sparkSession
    import spark.implicits._
    val offDf = offsets.toDF("__b", "__oa", "__ob")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val diffs = graft.core.Caches.track(
      binned.join(broadcast(offDf), Seq("__b"))
        .withColumn("__cuma", sum(col("__ca")).over(w) + col("__oa"))
        .withColumn("__cumb", sum(col("__cb")).over(w) + col("__ob"))
        .select(col("__v"),
          abs(col("__cuma").cast("double") / na -
            col("__cumb").cast("double") / nb).as("__diff")))
    val dMax = diffs.agg(max(col("__diff"))).head().getDouble(0)
    diffs.filter(col("__diff") === dMax)
      .agg(min(col("__v")).as("d_at"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"),
        lit(dMax).as("d_stat"), col("d_at"),
        (sqrt(lit(na.toDouble) * nb.toDouble /
          (na.toDouble + nb.toDouble)) * dMax).as("ks_scaled"))
  }

  /** Referential-integrity report across foreign-key edges — the
    * cross-TABLE complement to [[expect]]'s row rules: per declared
    * edge (child key → parent key), the child row count, NULL-key
    * count, orphan count (non-null child keys with no parent), and the
    * orphan fraction. The report is data; callers gate on n_orphans.
    *
    * Scale shape: one anti-join aggregate per edge — the join keys by
    * the FK, so Catalyst broadcasts dimension parents and
    * shuffle-joins fact-sized ones; nothing rescans a table twice per
    * edge (nulls and totals ride the same pass via conditional sums
    * on the joined relation).
    */
  def referentialIntegrity(
      edges: Seq[(String, DataFrame, String, DataFrame, String)])
      : DataFrame = {
    require(edges.nonEmpty, "declare at least one FK edge")
    edges.map { case (name, child, childKey, parent, parentKey) =>
      val parents = parent.select(col(parentKey).as("__pk")).distinct()
      child.select(col(childKey).as("__ck"))
        .join(parents, col("__ck") === col("__pk"), "left")
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(when(col("__ck").isNull, 1L).otherwise(0L)),
            lit(0L)).as("n_nulls"),
          coalesce(sum(when(col("__ck").isNotNull && col("__pk").isNull,
            1L).otherwise(0L)), lit(0L)).as("n_orphans"))
        .select(lit(name).as("fk"), col("n_rows"), col("n_nulls"),
          col("n_orphans"),
          (col("n_orphans").cast("double") / col("n_rows").cast("double"))
            .as("orphan_frac"))
    }.reduce(_.unionByName(_)).orderBy(col("fk"))
  }

  /** Concentration report for a per-entity value relation (one row per
    * entity, an exact integer value — e.g. tokens per source): the
    * Gini coefficient plus top-1% / top-10% entity shares — the "how
    * much of the corpus comes from how few domains" number every
    * curation audit reports (and the whale-concentration metric on
    * event data).
    *
    * Exactness: with entities grouped by DISTINCT value, the sorted-
    * rank sum decomposes per tie group as v·(c·cumBefore + c(c+1)/2) —
    * integers end to end (decimal accumulators), so the Gini
    * `(2R − (n+1)S) / (n·S)` spends one double division; top-p% cut
    * ranks are exact integer ceilings and the boundary tie group
    * contributes exactly `v·(k_p − usersAbove)`.
    *
    * Scale shape: one map-side-combined distinct-value aggregate is
    * the only data-sized pass; cumulatives run on the distinct-value
    * relation under the two-level binned-prefix discipline.
    */
  def concentration(perEntity: DataFrame, valueCol: String,
                    bins: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val DecN = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = graft.core.Caches.track(
      perEntity.select(col(valueCol).cast("long").as("__v"))
        .filter(col("__v").isNotNull)
        .groupBy(col("__v")).agg(count(lit(1)).as("__c")))
    val st = g.agg(min(col("__v")), max(col("__v"))).head()
    val (lo, hi) = (st.getLong(0), st.getLong(1))
    val binW = ((BigInt(hi) - BigInt(lo) + bins) / bins).max(1).toLong
    val binned = g.withColumn("__b",
      floor((col("__v") - lit(lo)) / lit(binW)).cast("long"))
    val totals = binned.groupBy(col("__b"))
      .agg(sum(col("__c")).as("tc"),
        sum(col("__v").cast(DecN) * col("__c").cast(DecN)).as("ts"))
      .orderBy(col("__b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDecimal(2))))
    val offsets = totals.scanLeft((0L, 0L, BigDecimal(0))) {
      case ((_, ac, as_), (b, tc, ts)) => (b, ac + tc, as_ + ts)
    }.sliding(2).collect { case Array((_, ac, as_), (b, _, _)) =>
      (b, ac, as_.toString)
    }.toSeq
    val spark = perEntity.sparkSession
    import spark.implicits._
    val offDf = offsets.toDF("__b", "__oc", "__os")
      .withColumn("__os", col("__os").cast(DecN))
    val w = Window.partitionBy(col("__b")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = graft.core.Caches.track(binned
      .join(broadcast(offDf), Seq("__b"))
      .withColumn("__cumc", sum(col("__c")).over(w) + col("__oc"))
      .withColumn("__cums",
        sum(col("__v").cast(DecN) * col("__c").cast(DecN)).over(w) +
          col("__os")))
    val tot = pre.agg(max(col("__cumc")).as("n"),
      max(col("__cums")).as("s")).head()
    val n = tot.getLong(0)
    val s = BigDecimal(tot.getDecimal(1))
    require(n > 0 && s > 0, "need positive total value")
    // R = Σ v·(c·cumBefore + c(c+1)/2); all decimal
    val rSum = BigDecimal(pre.select(
      sum(col("__v").cast(DecN) *
        (col("__c").cast(DecN) * (col("__cumc") - col("__c")).cast(DecN) +
          expr("(__c * (__c + 1)) div 2").cast(DecN)))
        .as("r")).head().getDecimal(0))
    val gini = (2 * rSum - (BigDecimal(n) + 1) * s).toDouble /
      (BigDecimal(n) * s).toDouble
    // top-p% cut: k = ceil(p·n/100); boundary group found by filter
    def topShare(pct: Int): (Long, Double) = {
      val k = (n * pct + 99) / 100
      // boundary tie group, descending: entities strictly above v
      // number < k, through v (inclusive) >= k
      val row = pre
        .filter(lit(n) - col("__cumc") < k &&
          lit(n) - col("__cumc") + col("__c") >= k)
        .select(col("__v").cast(DecN).as("v"), col("__c"),
          col("__cumc"), col("__cums")).head()
      val above = n - row.getLong(2) // entities with value > v
      val eventsAbove = s - BigDecimal(row.getDecimal(3))
      val topSum = eventsAbove +
        BigDecimal(row.getDecimal(0)) * BigDecimal(k - above)
      (k, topSum.toDouble / s.toDouble)
    }
    val (k1, sh1) = topShare(1)
    val (k10, sh10) = topShare(10)
    Seq((n, s.toLong, gini, k1, sh1, k10, sh10))
      .toDF("n_entities", "total_value", "gini", "top1_entities",
        "top1_share", "top10_entities", "top10_share")
  }

  /** Benford first-digit conformance — the classic fabricated-data /
    * unit-mixup tripwire for naturally-spanning numeric columns
    * (amounts, populations, file sizes): observed first-significant-
    * digit counts vs the Benford law p(d) = log10(1 + 1/d), with the
    * chi-square statistic.
    *
    * Exactness discipline: values quantize to integer cents via ONE
    * deterministic IEEE multiply + floor (both engines truncate the
    * same integral double), the first digit is the first character of
    * the INTEGER's decimal string (integer→string is engine-identical;
    * never a runtime log10), expected probabilities are driver-
    * computed literal doubles (the DcgWeights pattern), each χ² term
    * spends bounded double ops on exact inputs, and the 9-term total
    * folds in digit order (list_reduce-replayable). Values whose cents
    * floor to < 1 are excluded by contract.
    *
    * Scale shape: one scan-stage projection + a ≤9-group map-side-
    * combined count; everything after runs on the 9-row digit
    * relation.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val probs = (1 to 9).map(dd => (dd, math.log10(1.0 + 1.0 / dd)))
    val dim = probs.toDF("first_digit", "p_expected")
    val cents = floor(col(valueCol).cast("double") * lit(100.0))
    val counts = df
      .select(cents.as("__c"))
      .filter(col("__c") >= 1L)
      .select(substring(col("__c").cast("long").cast("string"), 1, 1)
        .cast("int").as("first_digit"))
      .groupBy(col("first_digit")).agg(count(lit(1)).as("n_obs"))
    val tot = counts.agg(sum(col("n_obs")).as("__n"))
    val term = (col("n_obs").cast("double") - col("n_expected")) *
      (col("n_obs").cast("double") - col("n_expected")) /
      col("n_expected")
    val base = graft.core.Caches.track(
      dim.join(counts, Seq("first_digit"), "left")
        .crossJoin(broadcast(tot))
        .select(col("first_digit"), col("p_expected"),
          coalesce(col("n_obs"), lit(0L)).as("n_obs"),
          (col("__n").cast("double") * col("p_expected"))
            .as("n_expected"))
        .withColumn("chi2_term", term))
    val chi = base.agg(
      aggregate(
        transform(array_sort(collect_list(struct(col("first_digit"),
          col("chi2_term").as("__t")))), x => x.getField("__t")),
        lit(0.0), (acc, x) => acc + x).as("chi2"))
    base.crossJoin(broadcast(chi))
      .select(col("first_digit"), col("n_obs"), col("p_expected"),
        col("n_expected"), col("chi2_term"), col("chi2"))
      .orderBy(col("first_digit"))
  }

  /** Order-invariant table fingerprint: one row with the row count and
    * three independent digests (sum, xor, max) of a 60-bit md5-derived
    * hash of each row's canonical key string. Two tables are equal as
    * MULTISETS iff their fingerprints match (up to hash collisions) —
    * the "did the migration/rewrite/compaction preserve the data"
    * audit that at 100 TB must not sort or co-locate anything.
    *
    * Scale shape: ONE scan with a map-side-combined 4-cell aggregate;
    * sum/xor/max are all commutative-associative, so partition order,
    * partitioning, and AQE re-plans can never change the answer. The
    * sum accumulates in DECIMAL(38,0) (exact to ~1e19 rows).
    *
    * Contract: callers pass columns with engine-stable string forms
    * (integers, strings, pre-formatted dates — NOT raw doubles, whose
    * shortest-repr formatting is engine-specific); NULL encodes as a
    * sentinel distinct from any value so (NULL) ≠ ('').
    */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "checksum needs at least one column")
    tableChecksumByKey(df, None, cols)
  }

  /** Per-key [[tableChecksum]]: one fingerprint row per value of
    * `keyCol` (e.g. per ship month, per ingest batch). The
    * reconciliation drill-down — when two 100 TB table versions'
    * global fingerprints disagree, the per-key fingerprints locate
    * WHICH slice diverged with the same single scan, no sort, and a
    * keys-sized result. The key participates in the grouping, not the
    * row hash, so slice fingerprints are comparable across different
    * partitioning layouts of the same logical key.
    */
  /** The 60-bit row hash both checksum paths share: -separated
    * canonical field strings (-prefixed NULL sentinel, distinct
    * from any real value), md5, first 15 hex digits as a long.
    */
  private def rowHash(cols: Seq[String]): org.apache.spark.sql.Column =
    conv(substring(md5(concat_ws("",
      cols.map(c => coalesce(col(c).cast("string"),
        lit("NULL"))): _*)), 1, 15), 16, 10).cast("long")

  def tableChecksumByKey(df: DataFrame, keyCol: Option[String],
                         cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "checksum needs at least one column")
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val h = rowHash(cols)
    val digests = Seq(
      count(lit(1)).as("n_rows"),
      coalesce(sum(col("__h").cast(Dec)), lit(0).cast(Dec))
        .cast("string").as("checksum_sum"),
      expr("bit_xor(__h)").as("checksum_xor"),
      max(col("__h")).as("checksum_max"))
    keyCol match {
      case None =>
        df.select(h.as("__h")).agg(digests.head, digests.tail: _*)
      case Some(kc) =>
        df.select(col(kc), h.as("__h"))
          .groupBy(col(kc)).agg(digests.head, digests.tail: _*)
          .orderBy(col(kc))
    }
  }

  /** Robust per-key outlier report: median ± k·MAD (median absolute
    * deviation) — the outlier gate that, unlike [[outlierGate]]'s
    * mean/stddev z-score, a single wild value cannot move (both the
    * center and the spread are order statistics with 50% breakdown).
    * The robust-statistics companion every scorer-driven curation pass
    * wants before trusting its thresholds.
    *
    * Two [[quantilesByKey]] rounds (per-key median of the values, then
    * per-key median of |v − median|) — six scans total for ANY key
    * count, each the histogram-guided selection with no global sort —
    * then one final keyed aggregate counts deviations past k·MAD.
    *
    * Cross-engine exactness: both medians are VALUES AT POSITIONS
    * (ceil(n/2), no interpolation); |v − med| is a single IEEE
    * subtraction per row; the k·MAD threshold is one multiply; so every
    * output cell replays bit-for-bit from a rank-based oracle. NULL
    * keys/values are excluded (the gate-key dimension contract).
    */
  def madOutliers(df: DataFrame, keyCol: String, valueCol: String,
                  k: Double = 3.0, bins: Int = 256): DataFrame = {
    val vals = graft.core.Caches.track(
      df.select(col(keyCol).cast("string").as("__k"),
          col(valueCol).cast("double").as("__v"))
        .filter(col("__k").isNotNull && col("__v").isNotNull))
    val med = quantilesByKey(vals, "__k", "__v", Seq(0.5), bins)
      .select(col("key").as("__k"), col("quantile").as("__med"))
    val dev = vals.join(broadcast(med), Seq("__k"))
      .withColumn("__d", abs(col("__v") - col("__med")))
    val mad = quantilesByKey(dev, "__k", "__d", Seq(0.5), bins)
      .select(col("key").as("__k"), col("quantile").as("__mad"))
    dev.join(broadcast(mad), Seq("__k"))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n"),
        max(col("__med")).as("median"), // constant within the key
        max(col("__mad")).as("mad"),
        sum(when(col("__d") > lit(k) * col("__mad"), 1L).otherwise(0L))
          .as("n_outliers"),
        max(col("__d")).as("max_dev"))
      .select(col("__k").as("key"), col("n"), col("median"), col("mad"),
        col("n_outliers"), col("max_dev"))
      .orderBy(col("key"))
  }

  /** FRESHNESS report per key — the feed-health audit an ingest
    * pipeline reads before anything downstream trusts a slice: each
    * key's last event time, its staleness behind the global watermark
    * (exact integer micros), row count, and the trailing-24h/7d volume
    * relative to that watermark. One keyed aggregate with conditional
    * sums (the only data-sized exchange) + a broadcast 1-row global
    * max. Everything integer; NULL keys form their own row (the
    * null-stratum convention), NULL timestamps are excluded.
    */
  def freshness(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val us = unix_micros(col(tsCol))
    val DayUs = 86400000000L
    val keyed = df.filter(col(tsCol).isNotNull)
      .select(col(keyCol).as("key"), us.as("__us"))
    val global = keyed.agg(max(col("__us")).as("__gmax"))
    keyed.crossJoin(broadcast(global))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("__us")).as("last_us"),
        max(col("__gmax")).as("__g"),
        sum(when(col("__us") > col("__gmax") - lit(DayUs), 1L)
          .otherwise(0L)).as("n_last_1d"),
        sum(when(col("__us") > col("__gmax") - lit(7L * DayUs), 1L)
          .otherwise(0L)).as("n_last_7d"))
      .select(col("key"), col("n_rows"), col("last_us"),
        (col("__g") - col("last_us")).as("staleness_us"),
        col("n_last_1d"), col("n_last_7d"))
      .orderBy(col("key").asc_nulls_last)
  }

  /** Deterministic POISSON-BOOTSTRAP confidence interval for the mean
    * of an integer-valued column — uncertainty quantification with the
    * reproducibility contract every operator here carries: replicate
    * multiplicities are a pure function of md5(key, replicate)
    * (two hex digits quantize Poisson(1) to {0,1,2,3,4} at the
    * 94/94/47/16/5-per-256 thresholds — the Poisson bootstrap of Chamandy
    * et al., the formulation that needs no per-replicate global n and
    * therefore distributes), so reruns and engines agree bit-for-bit.
    *
    * Scale shape: ONE scan fans each row out to `reps` (map-side
    * combine collapses to ≤ reps rows per task before the only
    * exchange); per-replicate sums are exact integers in
    * DECIMAL(38,0); each replicate mean is ONE double division; the
    * CI bounds are order statistics of the reps-sized mean list
    * (sort_array over ≤ reps values — nothing data-sized sorts).
    */
  def bootstrapMeanCI(df: DataFrame, keyCol: String, valueCol: String,
                      reps: Int = 64, alpha: Double = 0.05): DataFrame = {
    require(reps >= 4 && alpha > 0 && alpha < 1, "reps >= 4, alpha in (0,1)")
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // cached: the narrow (k, v) projection feeds BOTH the replicate
    // fan-out and the exact-mean aggregate — one corpus scan, not two
    // (tracked like sparseCosinePairs' tf; spills to disk at scale)
    val rows = graft.core.Caches.track(
      df.select(col(keyCol).cast("string").as("__k"),
          col(valueCol).cast("long").as("__v"))
        .filter(col("__k").isNotNull && col("__v").isNotNull))
    val h = conv(substring(md5(concat(col("__k"), lit("_"),
      col("__b").cast("string"))), 1, 2), 16, 10).cast("int")
    val mult = when(h <= 93, 0).when(h <= 187, 1).when(h <= 234, 2)
      .when(h <= 250, 3).otherwise(4)
    // a replicate whose multiplicities ALL quantize to 0 has no mean
    // (sum(__m)=0). Dropping it silently would shift the order-statistic
    // positions while an oracle engine keeps the NULL row — so zero-mass
    // replicates are filtered EXPLICITLY and the CI positions index the
    // SURVIVING replicate count (size of the sorted array), a contract
    // both engines can state identically. P(zero-mass) ≈ e^-n per
    // replicate: only degenerate tiny inputs ever hit this path.
    val repMeans = rows
      .select(col("__k"), col("__v"),
        explode(sequence(lit(0), lit(reps - 1))).as("__b"))
      .withColumn("__m", mult)
      .groupBy(col("__b"))
      .agg(sum((col("__v") * col("__m")).cast(Dec)).as("__vm"),
        sum(col("__m").cast("long")).as("__mass"))
      .filter(col("__mass") > 0L)
      .select((col("__vm").cast("double") / col("__mass").cast("double"))
        .as("__mean"))
    val ci = repMeans.agg(
      sort_array(collect_list(col("__mean"))).as("__arr"))
    val r = size(col("__arr")).cast("double")
    val loPos = greatest(lit(1), ceil(lit(alpha / 2) * r).cast("int"))
    val hiPos = least(size(col("__arr")),
      ceil(lit(1 - alpha / 2) * r).cast("int"))
    rows.agg(count(lit(1)).as("n_rows"),
        sum(col("__v").cast(Dec)).as("__s"))
      .crossJoin(broadcast(ci))
      .select(col("n_rows"),
        (col("__s").cast("double") / col("n_rows").cast("double"))
          .as("mean"),
        element_at(col("__arr"), loPos).as("ci_lo"),
        element_at(col("__arr"), hiPos).as("ci_hi"),
        lit(reps.toLong).as("reps"))
  }

  /** One batch's MERGEABLE fingerprint partial — [[tableChecksum]]'s
    * four digests kept in their algebraic form (count, DECIMAL(38,0)
    * sum, xor, max — every one commutative-associative), so partials
    * from any split of the table merge into the exact whole-table
    * fingerprint. The streaming/incremental ingest unit: persist per
    * micro-batch via [[IncrementalAgg.writeBatch]], serve via
    * [[checksumServe]] — the table's audit digest stays current at
    * O(batch) per refresh with the history never rescanned.
    */
  def checksumPartials(batch: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "checksum needs at least one column")
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    batch.select(rowHash(cols).as("__h"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("__h").cast(Dec)), lit(0).cast(Dec)).as("s"),
        expr("bit_xor(__h)").as("x"),
        max(col("__h")).as("mx"))
  }

  /** One batch's QUANTILE-SKETCH partial: the equi-width histogram of
    * [[quantilesExact]] step 2, under a FROZEN (lo, hi, bins) geometry
    * — the streaming/incremental unit (histogram counts merge by
    * addition, so per-refresh cost is one narrow aggregate of the new
    * batch). The geometry is fixed at bootstrap like the ADC layout's
    * persisted quantizers: values outside [lo, hi] clamp into the edge
    * bins (documented contract — re-profile and rebuild when the
    * domain genuinely moves). Output: (__b, c) rows, ≤ bins of them.
    */
  def histogramPartials(batch: DataFrame, valueCol: String,
                        lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins >= 2 && hi > lo, "need hi > lo and >= 2 bins")
    val width = (hi - lo) / bins
    val b = greatest(least(floor((col("__v") - lit(lo)) / lit(width)),
      lit(bins - 1)), lit(0)).cast("int")
    batch.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(b.as("__b")).agg(count(lit(1)).as("c"))
  }

  /** Serve quantile ESTIMATES from merged COMMITTED histogram partials,
    * gated against the exact order statistics: the merged counts locate
    * each q's bin under the frozen geometry (est = bin lower edge, the
    * [[quantilesExact]] `est` convention), and the output carries the
    * exact value (hash-checked cross-engine, from one
    * [[quantilesExact]] pass over the facts) plus the within-one-bin
    * boolean — a broken merge fails the round, in-bound sketch
    * coarseness does not. Serving reads ≤ bins × batches tiny rows;
    * facts are scanned only for the gate's ground truth.
    */
  def quantileSketchServe(spark: org.apache.spark.sql.SparkSession,
                          path: String, facts: DataFrame, valueCol: String,
                          qs: Seq[Double], lo: Double, hi: Double,
                          bins: Int): DataFrame = {
    require(qs.nonEmpty && hi > lo, "need quantiles and hi > lo")
    val hist = graft.core.IndexCommits.dataStore(spark, path).served()
      .groupBy(col("__b")).agg(sum(col("c")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = hist.values.sum
    val width = (hi - lo) / bins
    val cum = (0 until bins).scanLeft(0L)((acc, b) =>
      acc + hist.getOrElse(b, 0L)).drop(1)
    import spark.implicits._
    val est = qs.map { q =>
      val pos = math.ceil(q * n).toLong max 1L
      val bin = cum.indexWhere(_ >= pos)
      (q, lo + bin * width)
    }.toDF("q", "est_sketch")
    val exact = quantilesExact(facts, valueCol, qs, bins)
      .select(col("q"), col("quantile").as("exact"))
    exact.join(broadcast(est), Seq("q"))
      .select(col("q"), col("exact"), col("est_sketch"),
        (abs(col("exact") - col("est_sketch")) <= lit(width))
          .as("within_bin"))
      .orderBy(col("q"))
  }

  /** Merge COMMITTED checksum partials into the whole-table fingerprint
    * ([[tableChecksum]]'s exact output schema): counts and decimal sums
    * add, xors xor, maxes max — bit-identical to one pass over the
    * union of the ingested batches, which is the property the streaming
    * oracle checks. Input is batches-sized; facts are never rescanned.
    */
  def checksumServe(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame = {
    graft.core.IndexCommits.dataStore(spark, path).served()
      .agg(sum(col("n")).as("n_rows"),
        sum(col("s")).cast("string").as("checksum_sum"),
        expr("bit_xor(x)").as("checksum_xor"),
        max(col("mx")).as("checksum_max"))
  }
}
