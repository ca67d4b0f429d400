package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-sequence analytics beyond the funnel/retention pair: next-event
  * transition matrices, conversion attribution, and dense time-series
  * gap-filling. All three share the product-analytics scale shape — ONE
  * exchange keyed by the entity (user) or the grid key, with every
  * downstream relation bounded (types x types, channels, users x days) so
  * nothing corpus-sized survives the first aggregate.
  */
object EventOps {

  /** Markov next-event transition matrix: for every adjacent pair of
    * events per user (ordered by (ts, tieCol) — the tiebreak makes equal
    * timestamps deterministic), count (from_type -> to_type) and the
    * per-source transition probability.
    *
    * Plan shape: one user-keyed exchange for the `lead` window, then a
    * (from, to) aggregate whose partial (map-side) combine collapses each
    * partition to at most |types|² rows before the second, trivially
    * small exchange. The probability normalization is a window over the
    * bounded matrix itself. At 100 TB the cost is the one user window —
    * the same exchange sessionization already pays.
    */
  def transitions(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .select(col(userCol), col(tsCol), col(tieCol), col(typeCol))
      .withColumn("__to", lead(col(typeCol), 1).over(w))
      .filter(col("__to").isNotNull)
    pairs.groupBy(col(typeCol).as("from_type"), col("__to").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("from_type"))).cast("double"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** STATIONARY DISTRIBUTION of the [[transitions]] Markov chain by
    * power iteration — "where does a user's session settle": the
    * long-run visit share of each event type under the observed
    * next-event dynamics, the one-number-per-state summary a
    * transition MATRIX doesn't directly give (feeds session-mix
    * forecasting and anomaly baselines). π_{t+1} = π_t·P for a fixed
    * `iters` rounds from the uniform start; states with NO outgoing
    * transitions (sinks) get a self-loop so the chain stays
    * stochastic (documented patch, matching the oracle).
    *
    * Exactness, the [[graft.ops.Similarity.pcaTopComponent]]
    * discipline: the transition matrix is BOUNDED (|types|² rows), so
    * it collects once and the iteration is driver-local plain-double
    * arithmetic whose per-state sums fold in from-state order —
    * bit-replayable by SQL list_reduce over the identical `p` doubles
    * (a zero-mass state contributes 0.0 addends; acc + 0.0 ≡ acc, so
    * dropped-vs-zero terms cannot diverge). Corpus-sized work is
    * exactly the ONE user-keyed exchange [[transitions]] already
    * pays.
    *
    * @return one row per state: (event_type, stationary), ordered.
    */
  def markovStationary(events: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, tieCol: String,
                       iters: Int = 6): DataFrame = {
    require(iters >= 1, "at least one iteration")
    val spark = events.sparkSession
    val tm = transitions(events, userCol, tsCol, typeCol, tieCol)
      .select("from_type", "to_type", "p").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val states = tm.keysIterator.flatMap(k => Seq(k._1, k._2))
      .toSeq.distinct.sorted
    require(states.nonEmpty, "no transitions in the event stream")
    val froms = tm.keysIterator.map(_._1).toSet
    // sink patch: a state with no outgoing row self-loops
    val pFull = tm ++ states.filterNot(froms).map(s => (s, s) -> 1.0)
    var pi = states.map(_ => 1.0 / states.length).toArray
    for (_ <- 1 to iters) {
      val next = states.map { s =>
        states.zipWithIndex.foldLeft(0.0) { case (acc, (t, ti)) =>
          pFull.get((t, s)).fold(acc)(p => acc + pi(ti) * p)
        }
      }.toArray
      pi = next
    }
    import spark.implicits._
    states.zipWithIndex.map { case (s, i) => (s, pi(i)) }
      .toDF("event_type", "stationary")
      .orderBy("event_type")
  }

  /** Last-touch conversion attribution: each conversion event is credited
    * to the most recent STRICTLY-PRECEDING touch event (by (ts, tieCol));
    * conversions with no prior touch in the stream credit the sentinel
    * `(direct)` channel. Returns (channel, n_conversions, revenue) with
    * the revenue summed exactly (order-independent decimal).
    *
    * Plan shape: the carry-forward is `last(..., ignoreNulls)` over a
    * user-keyed window frame ending at the previous row — one exchange;
    * the per-channel rollup partial-aggregates to |channels| rows. The
    * window frame (UNBOUNDED PRECEDING → -1) is what makes "strictly
    * preceding" exact even under equal timestamps: a touch at the same
    * instant as the conversion sorts by the tiebreak, and only rows
    * physically before the conversion are visible to the frame.
    */
  def lastTouchAttribution(events: DataFrame, userCol: String, tsCol: String,
                           typeCol: String, tieCol: String,
                           touchTypes: Seq[String],
                           conversionType: String,
                           valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val channel = last(
      when(col(typeCol).isin(touchTypes: _*), col(typeCol)),
      ignoreNulls = true).over(w)
    events
      .select(col(userCol), col(tsCol), col(tieCol), col(typeCol), col(valueCol))
      .withColumn("channel", coalesce(channel, lit("(direct)")))
      .filter(col(typeCol) === conversionType)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col(valueCol).cast(DecimalType(28, 8))).cast("double").as("revenue"))
      .orderBy(col("channel"))
  }

  /** FIRST-touch attribution — [[lastTouchAttribution]]'s
    * discovery-credit complement (which channel ACQUIRED the user vs
    * which one closed): the earliest qualifying touch strictly before
    * each conversion takes full credit, same deterministic
    * (ts, tieCol) frame, same one-user-exchange plan; only the window
    * function changes (first non-null instead of last).
    */
  def firstTouchAttribution(events: DataFrame, userCol: String,
                            tsCol: String, typeCol: String, tieCol: String,
                            touchTypes: Seq[String], conversionType: String,
                            valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val channel = first(
      when(col(typeCol).isin(touchTypes: _*), col(typeCol)),
      ignoreNulls = true).over(w)
    events
      .select(col(userCol), col(tsCol), col(tieCol), col(typeCol),
        col(valueCol))
      .withColumn("channel", coalesce(channel, lit("(direct)")))
      .filter(col(typeCol) === conversionType)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col(valueCol).cast(DecimalType(28, 8))).cast("double")
          .as("revenue"))
      .orderBy(col("channel"))
  }

  /** Per-session rows via the built-in session_window operator with an
    * inactivity gap — the batch plan of the same stateful shape
    * Structured Streaming runs. Single-sourced here so the standalone
    * ev_sessionize query and the ev_pipeline flagship run the SAME
    * code path (the oracle restates it as lag + cumulative sum).
    */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
                 valueCol: String, gap: String = "30 minutes"): DataFrame = {
    val us = unix_micros(col(tsCol))
    events
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(count(lit(1)).as("n_events"),
        (max(us) - min(us)).as("duration_us"),
        min(us).as("session_start_us"),
        sum(col(valueCol).cast(DecimalType(28, 8))).cast("double")
          .as("sum_value"))
      .select(userCol, "session_start_us", "n_events", "duration_us",
        "sum_value")
  }

  /** Top-k session PATHS: the full ordered event-type sequence of each
    * session (gap-based, [[sessionize]] semantics) joined into a
    * `view>click>purchase` path string, counted across sessions, top-k
    * by frequency — the "what do users actually do" report next to the
    * funnel's "do they do THIS".
    *
    * Plan shape: the one session_window exchange on the user key (the
    * same exchange sessionize pays), path assembly INSIDE the row
    * (sort_array over the per-session event list — bounded by session
    * length, the unit every analytics store already shards by), then a
    * path-keyed count whose map-side partial combine collapses each
    * partition to its distinct paths, and a TakeOrderedAndProject for
    * the top-k (never a global sort). Ties in ts are broken by `tieCol`
    * so the path string is deterministic cross-engine.
    */
  def sessionPaths(events: DataFrame, userCol: String, tsCol: String,
                   typeCol: String, tieCol: String,
                   gap: String = "30 minutes", topK: Int = 20): DataFrame = {
    val us = unix_micros(col(tsCol))
    events
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(concat_ws(">",
        transform(
          array_sort(collect_list(struct(us.as("us"),
            col(tieCol).as("tie"), col(typeCol).as("et")))),
          _.getField("et"))).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** Segment-overlap matrix: for every pair of event-type segments, how
    * many users belong to BOTH, with the Jaccard affinity |A∩B|/|A∪B| —
    * the audience-overlap report behind "do users who error also
    * purchase?" questions. Segment membership is "engaged": at least
    * `minEvents` events of that type (with minEvents = 1 this is plain
    * did-the-thing membership, which on uniformly generated fixtures is
    * everyone-everywhere — the threshold is what makes the report say
    * something).
    *
    * Plan shape: ONE (user, type) aggregate — the only corpus-sized
    * exchange, map-side combinable — then a self-join co-partitioned on
    * the user key whose per-user fanout is bounded by |types|² (types
    * is a bounded vocabulary, so each user contributes at most
    * types·(types−1)/2 pair rows), collapsing map-side into the
    * ≤ |types|² output. The per-type sizes reuse the same membership
    * relation; nothing user-cardinality-sized crosses a second
    * exchange.
    */
  def segmentOverlap(events: DataFrame, userCol: String,
                     typeCol: String, minEvents: Long = 1L): DataFrame = {
    val ut = graft.core.Caches.track(
      events.groupBy(col(userCol).as("u"), col(typeCol).as("t"))
        .agg(count(lit(1)).as("__cnt"))
        .filter(col("__cnt") >= minEvents).select("u", "t"))
    val sizes = ut.groupBy("t").agg(count(lit(1)).as("n"))
    val both = ut.as("a").join(ut.as("b"),
        col("a.u") === col("b.u") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("type_a"), col("b.t").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(sizes.select(col("t").as("type_a"), col("n").as("n_a")), "type_a")
      .join(sizes.select(col("t").as("type_b"), col("n").as("n_b")), "type_b")
      .withColumn("jaccard", col("n_both").cast("double") /
        (col("n_a") + col("n_b") - col("n_both")))
      .select("type_a", "type_b", "n_a", "n_b", "n_both", "jaccard")
  }

  /** Cohort retention grid: users grouped by their first `cohortType`
    * event's week, counted as retained in every week with ANY activity
    * — the (cohort × activity-week) matrix. Single-sourced for the
    * standalone ev_retention query and the ev_pipeline flagship.
    */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String,
                      typeCol: String, cohortType: String): DataFrame = {
    val cohort = events.filter(col(typeCol) === cohortType)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__ct"))
      .select(col(userCol),
        date_format(date_trunc("week", col("__ct")), "yyyy-MM-dd")
          .as("cohort_week"))
    val activity = events.select(col(userCol),
        date_format(date_trunc("week", col(tsCol)), "yyyy-MM-dd")
          .as("active_week"))
      .distinct()
    cohort.join(activity, userCol)
      .groupBy(col("cohort_week"), col("active_week"))
      .agg(countDistinct(col(userCol)).as("n_users"))
  }

  /** RFM (recency / frequency / monetary) customer scoring — the
    * segmentation backbone of every CRM/analytics stack: per entity the
    * days since last conversion (anchored to the last observed
    * CONVERSION day across the stream — trailing non-conversion
    * activity does not move the anchor), the conversion count, and the
    * exact-decimal revenue, each scored into quintiles 1–5 (5 = best:
    * most recent / most frequent / highest spend).
    *
    * Scale shape: the classic ntile(5) formulation global-sorts the
    * entity relation through ONE partition — corpus-sized at scale.
    * Here the quintile boundaries come from ONE exact-percentile
    * aggregate (the q21 percentile ≡ quantile_cont cross-engine
    * equivalence) broadcast back, and each entity scores by comparing
    * against the four thresholds — scan-stage, no global sort. Exact
    * thresholds + IEEE comparisons make the scores engine-identical.
    */
  def rfm(events: DataFrame, userCol: String, tsCol: String,
          typeCol: String, conversionType: String,
          valueCol: String): DataFrame = {
    val conv = events.filter(col(typeCol) === conversionType)
    val lastDay = conv.agg(max(to_date(col(tsCol))).as("__d1"))
    // cached: the per-user relation feeds BOTH the threshold aggregate
    // and the scoring join — without the cache each one re-scans the
    // event stream (the Graphs.pageRank discipline)
    val per = graft.core.Caches.track(conv.groupBy(col(userCol))
      .agg(max(to_date(col(tsCol))).as("__last"),
        count(lit(1)).as("frequency"),
        sum(col(valueCol).cast(DecimalType(28, 8))).cast("double")
          .as("monetary"))
      .crossJoin(broadcast(lastDay))
      .select(col(userCol),
        datediff(col("__d1"), col("__last")).cast("long").as("recency_days"),
        col("frequency"), col("monetary")))
    val th = per.agg(
      percentile(col("recency_days"), typedlit(Seq(0.2, 0.4, 0.6, 0.8)))
        .as("__tr"),
      percentile(col("frequency"), typedlit(Seq(0.2, 0.4, 0.6, 0.8)))
        .as("__tf"),
      percentile(col("monetary"), typedlit(Seq(0.2, 0.4, 0.6, 0.8)))
        .as("__tm"))
    def quintile(v: Column, t: Column): Column =
      (1 to 4).foldLeft(lit(1L)) { (acc, i) =>
        acc + when(v > element_at(t, i), 1L).otherwise(0L)
      }
    per.crossJoin(broadcast(th))
      .select(col(userCol), col("recency_days"), col("frequency"),
        col("monetary"),
        // low recency = recently active = best
        (lit(6L) - quintile(col("recency_days").cast("double"), col("__tr")))
          .as("r_score"),
        quintile(col("frequency").cast("double"), col("__tf")).as("f_score"),
        quintile(col("monetary"), col("__tm")).as("m_score"))
      .orderBy(col(userCol))
  }

  /** Dense daily gap-fill with zero-fill and last-observation-carried-
    * forward: for the entities in `entities` (a SMALL, bounded relation —
    * the dashboard's watchlist, not the corpus), emit one row per
    * (entity, day) over the full [minDay, maxDay] observation window of
    * `clock`, zero-filling days with no qualifying event and carrying the
    * last seen daily revenue forward.
    *
    * Plan shape: the day spine is a 1-row min/max aggregate exploded to
    * ~days rows and BROADCAST against the entity list (the grid is
    * entities x days — bounded by construction); the sparse daily facts
    * aggregate on (entity, day) and left-join the grid co-partitioned on
    * the same key. The LOCF window runs over the bounded grid. Nothing
    * here scans more than once or shuffles more than the daily aggregate.
    */
  def gapFillDaily(facts: DataFrame, clock: DataFrame, entityCol: String,
                   tsCol: String, valueCol: String): DataFrame = {
    val spine = clock
      .agg(min(to_date(col(tsCol))).as("d0"), max(to_date(col(tsCol))).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val entities = facts.select(col(entityCol)).distinct()
    val grid = entities.crossJoin(broadcast(spine))
    val daily = facts
      .groupBy(col(entityCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("__n"),
        sum(col(valueCol).cast(DecimalType(28, 8))).cast("double").as("__rev"))
    val w = Window.partitionBy(col(entityCol)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq(entityCol, "day"), "left")
      .select(col(entityCol),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("__n"), lit(0L)).as("n_events"),
        coalesce(last(col("__rev"), ignoreNulls = true).over(w),
          lit(0.0)).as("rev_locf"))
      .orderBy(col(entityCol), col("day"))
  }

  /** Rolling distinct active users per day — DAU/WAU/MAU in one query
    * (the product-analytics headline metric): for each calendar day and
    * each trailing window length, the number of DISTINCT users with at
    * least one event inside the window ending that day.
    *
    * Exact distinct over a sliding window doesn't decompose (a user
    * active twice in the window must count once), so the standard exact
    * plan is coverage expansion over the DEDUPED daily relation: events
    * collapse to distinct (user, day) once — the only event-sized
    * shuffle — then each (user, day) expands to the ≤ max(windows)
    * cover days it keeps the user active for, and one distinct +
    * count per (window, day) finishes. Cost is Σwindows × |user-days|
    * rows through one exchange — independent of raw event count, which
    * is what makes it viable at 100 TB (the approximate alternative,
    * per-day HLL partials unioned over the window, is the
    * [[graft.ops.IncrementalAgg.sketchPartials]] pattern).
    *
    * Days with no active user in a window are absent (no zero rows);
    * cover days beyond the data's last day are clipped.
    */
  def rollingActiveUsers(events: DataFrame, userCol: String, tsCol: String,
                         windows: Seq[Int]): DataFrame = {
    require(windows.nonEmpty && windows.forall(_ >= 1), "windows >= 1 day")
    val spark = events.sparkSession
    import spark.implicits._
    val daily = events
      .select(col(userCol).as("__u"), to_date(col(tsCol)).as("__day"))
      .distinct()
    val bounds = daily.agg(max(col("__day")).as("__d1"))
    val wdf = windows.sorted.toDF("window_days")
    daily.crossJoin(broadcast(wdf))
      .select(col("window_days"), col("__u"),
        explode(sequence(col("__day"),
          date_add(col("__day"), col("window_days") - lit(1)))).as("__cover"))
      .crossJoin(broadcast(bounds))
      .filter(col("__cover") <= col("__d1"))
      .select(col("window_days"), col("__u"), col("__cover"))
      .distinct()
      .groupBy(col("window_days"), col("__cover"))
      .agg(count(lit(1)).as("active_users"))
      .select(col("window_days"),
        date_format(col("__cover"), "yyyy-MM-dd").as("day"),
        col("active_users"))
      .orderBy(col("window_days"), col("day"))
  }

  /** [[rollingActiveUsers]]'s SKETCH path — the shape the exact
    * operator's doc names as the 100 TB alternative: ONE scan builds a
    * per-day HLL sketch of the user set (days-sized output), and every
    * (window, day) estimate is a union of ≤ window daily sketches —
    * distinct counts don't merge across days, sketches do, so the
    * sliding union never rescans events and adding a window length
    * costs only more tiny sketch rows. Output carries the EXACT count
    * (hash-checked cross-engine, from the exact operator) plus a
    * boolean gating the estimate within `tol` of it — the ev_sketch
    * bounded-error pattern: a broken union fails the round, in-bound
    * sketch wobble does not.
    */
  def rollingActiveUsersSketch(events: DataFrame, userCol: String,
                               tsCol: String, windows: Seq[Int],
                               tol: Double = 0.05): DataFrame =
    activeUsersGate(dailyUserSketches(events, userCol, tsCol),
      events, userCol, tsCol, windows, tol)

  /** One relation's per-day HLL user sketches: (day, sk) — the
    * mergeable ingest unit for [[rollingActiveUsersServeSketch]]
    * (persist per batch via [[IncrementalAgg.writeBatch]]; sketches
    * for the same day union across batches at serve time).
    */
  def dailyUserSketches(events: DataFrame, userCol: String,
                        tsCol: String): DataFrame =
    events
      .select(col(userCol).as("__u"), to_date(col(tsCol)).as("day"))
      .groupBy(col("day"))
      .agg(expr("hll_sketch_agg(__u, 12)").as("sk"))

  /** Serve the rolling-active-users gate from COMMITTED per-batch daily
    * sketches: same-day sketches union across batches first (an
    * uncommitted batch's days stay invisible — the IncrementalAgg
    * contract), then the shared window expansion and bounded-error
    * gate. Per-refresh cost is one narrow daily aggregate of the new
    * batch; serving reads days × batches sketch rows, never events —
    * except for the exact column, which the GATE recomputes from
    * `events` the way every recall/sketch gate here pays for its own
    * ground truth.
    */
  def rollingActiveUsersServeSketch(spark: org.apache.spark.sql.SparkSession,
                                    path: String, events: DataFrame,
                                    userCol: String, tsCol: String,
                                    windows: Seq[Int],
                                    tol: Double = 0.05): DataFrame = {
    val daySk = graft.core.IndexCommits.dataStore(spark, path).served()
      .groupBy(col("day"))
      .agg(expr("hll_union_agg(sk, false)").as("sk"))
    activeUsersGate(daySk, events, userCol, tsCol, windows, tol)
  }

  private def activeUsersGate(daySk: DataFrame, events: DataFrame,
                              userCol: String, tsCol: String,
                              windows: Seq[Int], tol: Double): DataFrame = {
    require(windows.nonEmpty && windows.forall(_ >= 1), "windows >= 1 day")
    val spark = events.sparkSession
    import spark.implicits._
    val bounds = daySk.agg(max(col("day")).as("__d1"))
    val wdf = windows.sorted.toDF("window_days")
    val est = daySk.crossJoin(broadcast(wdf))
      .select(col("window_days"),
        explode(sequence(col("day"),
          date_add(col("day"), col("window_days") - lit(1)))).as("__cover"),
        col("sk"))
      .crossJoin(broadcast(bounds))
      .filter(col("__cover") <= col("__d1"))
      .groupBy(col("window_days"), col("__cover"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))")
        .as("__est"))
      .select(col("window_days"),
        date_format(col("__cover"), "yyyy-MM-dd").as("day"), col("__est"))
    rollingActiveUsers(events, userCol, tsCol, windows)
      .join(est, Seq("window_days", "day"))
      .select(col("window_days"), col("day"), col("active_users"),
        (abs(col("__est") - col("active_users")) /
          col("active_users") < tol).as("hll_within_tol"))
      .orderBy(col("window_days"), col("day"))
  }

  /** Volume-anomaly detection on the daily event stream: each
    * (key, day) count is z-scored against ITS OWN key's day-count
    * distribution, and days beyond `z` standard deviations flag — the
    * ops-monitoring query every event pipeline runs ("did checkout
    * volume crater on Tuesday?"), and at curation scale the drop/spike
    * detector for ingest feeds.
    *
    * Scale shape: one shuffle to the (key, day) daily aggregate (counts
    * partial-aggregate map-side), then the per-key statistics are a
    * second aggregate over the SMALL daily relation (keys × days rows),
    * broadcast back onto it — the raw event scan happens once and
    * nothing else is data-sized.
    *
    * Cross-engine exactness: daily counts are integers, so their sums
    * and sums of squares are exact BIGINT arithmetic — mean, variance,
    * and z then derive through the identical IEEE double expressions in
    * any engine, no decimal staging needed. Variance uses the
    * population form E[x²]−mean² (clamped at 0 for rounding), matching
    * the oracle text symbol-for-symbol.
    */
  /** Exponentially-weighted moving average of the per-key DAILY COUNT
    * series — the smoothed-trend complement to [[dailyAnomalies]]'
    * global z-score (EWMA tracks a drifting baseline where the global
    * mean flags every point of a trending series).
    *
    * The smoothing constant is FIXED at α = 1/2 (`ewma_k = (n_k +
    * ewma_{k-1}) / 2`), deliberately: scaling the recursion by 2^(k−1)
    * turns it into the INTEGER cumulative sum
    * `S_k = n_1 + Σ_{j=2..k} n_j·2^(j−2)`, with `ewma_k = S_k /
    * 2^(k−1)`. Every `n_j·2^(j−2)` is an integer-valued double
    * (integer × power of two — zero rounding) converted EXACTLY into
    * DECIMAL(38,0), the running sum is exact decimal arithmetic, and
    * the finish is one correctly-rounded decimal→double cast followed
    * by an exact power-of-two division — bit-identical across engines.
    * (A decimal-staged `n·2^-i` term formulation is NOT portable: its
    * terminating binary fractions land exactly on 14-decimal-place
    * HALF ties, where Spark rounds HALF_UP and DuckDB HALF_EVEN.) A
    * general α would round at every power and drift the 90-day tail.
    *
    * Exactness horizon: DECIMAL(38,0) holds S_k while
    * `log2(max daily count) + k < ~126` — about 110 daily points at
    * counts ≤ 10⁵. Past that the sum overflows LOUDLY (decimal
    * overflow, not silent drift); smooth longer horizons in chunks,
    * re-seeding the recursion from the previous chunk's tail (the
    * dropped pre-chunk mass carries weight < 2^-110 — far below one
    * double ulp of any realistic series value).
    *
    * Plan shape: corpus-sized work is ONE daily-count aggregate
    * (map-side combinable); everything after runs on the clock-bounded
    * daily relation — one key-partitioned window pass (row_number +
    * running sum share the same sort), nothing quadratic, nothing
    * collected.
    */
  def ewmaDaily(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__d"))
    events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("__d"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("__k", row_number().over(w))
      .withColumn("__w",
        when(col("__k") === 1, col("n_events").cast("double"))
          .otherwise(col("n_events").cast("double") *
            pow(lit(2.0), col("__k").cast("double") - 2.0))
          .cast(dec))
      .withColumn("ewma",
        sum(col("__w")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).cast("double") /
          pow(lit(2.0), col("__k").cast("double") - 1.0))
      .select(col(keyCol),
        date_format(col("__d"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("ewma"))
      .orderBy(col(keyCol), col("day"))
  }

  def dailyAnomalies(events: DataFrame, keyCol: String, tsCol: String,
                     z: Double = 2.0): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val stats = daily.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__days"),
        sum(col("n_events")).as("__s"),
        sum(col("n_events") * col("n_events")).as("__s2"))
      .select(col(keyCol),
        (col("__s").cast("double") / col("__days")).as("__mean"),
        sqrt(greatest(
          col("__s2").cast("double") / col("__days") -
            (col("__s").cast("double") / col("__days")) *
            (col("__s").cast("double") / col("__days")),
          lit(0.0))).as("__std"))
    daily.join(broadcast(stats), Seq(keyCol))
      .select(col(keyCol),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("__mean").as("mean_daily"),
        when(col("__std") > 0,
          (col("n_events") - col("__mean")) / col("__std"))
          .otherwise(lit(0.0)).as("zscore"))
      .withColumn("is_anomaly", abs(col("zscore")) > lit(z))
      .orderBy(col(keyCol), col("day"))
  }

  /** Growth accounting (the "quick ratio" framework): every active
    * (user, week) is classified NEW (first-ever active week),
    * RETAINED (also active the immediately preceding week) or
    * RESURRECTED (returning after >= 1 skipped week), and a user whose
    * next activity is more than one week away CHURNS in the week after
    * their last active one — so per week, new + retained + resurrected
    * counts the week's actives and churned counts the users lost to
    * it; quick_ratio = (new + resurrected) / churned when churn > 0.
    * Complements [[cohortRetention]]'s (cohort × week) grid with the
    * per-week state decomposition growth teams actually steer by.
    *
    * Exactness: weeks are the epoch-microsecond of the Monday
    * `date_trunc` (both engines truncate to Monday; the integer stays
    * on the timestampless seam), adjacency is `prev == wk − 604800e6`
    * in longs, and quick_ratio is the single int→double division.
    *
    * Scale shape: one (user, week) distinct — map-side combinable —
    * then a user-partitioned lag/lead window (the sessionize exchange)
    * and two weeks-sized aggregates; output is bounded by the week
    * span. Nothing user² or corpus-sized past the first exchange.
    */
  def growthAccounting(events: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    val weekUs = 604800000000L
    val uw = events
      .filter(col(userCol).isNotNull)
      .select(col(userCol).as("__u"),
        unix_micros(date_trunc("week", col(tsCol))).as("__wk"))
      .distinct()
    val w = Window.partitionBy(col("__u")).orderBy(col("__wk"))
    val st = graft.core.Caches.track(uw
      .withColumn("__prev", lag(col("__wk"), 1).over(w))
      .withColumn("__next", lead(col("__wk"), 1).over(w)))
    val act = st.groupBy(col("__wk"))
      .agg(
        coalesce(sum(when(col("__prev").isNull, 1L)), lit(0L))
          .as("n_new"),
        coalesce(sum(when(col("__prev") === col("__wk") - weekUs, 1L)),
          lit(0L)).as("n_retained"),
        coalesce(sum(when(col("__prev").isNotNull &&
          col("__prev") < col("__wk") - weekUs, 1L)), lit(0L))
          .as("n_resurrected"))
    val ch = st
      .filter(col("__next").isNull || col("__next") > col("__wk") + weekUs)
      .select((col("__wk") + weekUs).as("__wk"))
      .groupBy(col("__wk")).agg(count(lit(1)).as("n_churned"))
    act.join(ch, Seq("__wk"), "full_outer")
      .select(
        date_format(timestamp_micros(col("__wk")), "yyyy-MM-dd")
          .as("week_start"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .withColumn("quick_ratio",
        when(col("n_churned") > 0,
          (col("n_new") + col("n_resurrected")).cast("double") /
            col("n_churned").cast("double")))
      .orderBy(col("week_start"))
  }

  /** Cohort LTV triangle: users cohorted by first-activity week; per
    * (cohort_week, week_offset) cell the active-user count, the cell
    * revenue, the cohort's CUMULATIVE revenue through that offset, and
    * LTV = cumulative revenue / cohort size — the lifetime-value curve
    * next to ev_retention's activity grid.
    *
    * Exactness: revenue sums stage in DECIMAL(28,8) (order-independent,
    * engine-exact — the repo-wide dsum discipline); the cumulative runs
    * over the weeks²-bounded cell relation; LTV is one double division
    * of the decimal-cast cumulative by the cohort size.
    *
    * Scale shape: one user-keyed aggregate (first week) co-partitioned
    * with the (user, week) join — the same exchange retention pays —
    * then every relation is cohorts × offsets. Nothing corpus-sized
    * survives the first aggregate.
    */
  def cohortLtv(events: DataFrame, userCol: String, tsCol: String,
                valueCol: String): DataFrame = {
    val weekUs = 604800000000L
    val Dec = DecimalType(28, 8)
    val ev = events
      .filter(col(userCol).isNotNull)
      .select(col(userCol).as("__u"),
        unix_micros(date_trunc("week", col(tsCol))).as("__wk"),
        col(valueCol).cast(Dec).as("__v"))
    val first = ev.groupBy(col("__u")).agg(min(col("__wk")).as("__cohort"))
    val cells = ev.join(first, Seq("__u"))
      .groupBy(col("__cohort"),
        ((col("__wk") - col("__cohort")) / weekUs).cast("long")
          .as("week_offset"))
      .agg(countDistinct(col("__u")).as("n_active"),
        coalesce(sum(col("__v")), lit(0).cast(Dec)).as("__rev"))
    val wCum = Window.partitionBy(col("__cohort")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("__cohort"))
    cells
      .withColumn("__cum", sum(col("__rev")).over(wCum))
      .withColumn("__size",
        max(when(col("week_offset") === 0, col("n_active"))).over(wAll))
      .select(
        date_format(timestamp_micros(col("__cohort")), "yyyy-MM-dd")
          .as("cohort_week"),
        col("week_offset"), col("n_active"),
        col("__rev").cast("double").as("revenue"),
        col("__cum").cast("double").as("cum_revenue"),
        (col("__cum").cast("double") / col("__size").cast("double"))
          .as("ltv"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** A/B experiment report over an event log: per-variant exposed-user
    * and converted-user counts, conversion rates, and the Pearson
    * chi-square statistic of the 2×2 (variant × converted) table — the
    * experiment-readout every product-analytics engine ships. The
    * variant is a pure function of the user id (`variantOf`, default
    * id parity), so assignment is reproducible across engines and
    * retries; exposure/conversion are "user had ≥1 event of the type".
    *
    * Exactness: all eight cells are integers off ONE user-keyed
    * map-side-combined aggregate; rates are single integer→double
    * divisions and chi² is the textbook closed form
    * `N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d))` with (ad−bc)² and the
    * denominator staged in DECIMAL(38,0) (exact up to ~1e9 users per
    * cell) and a FIXED double expression shape — `double(N) ·
    * double(num) / double(den)` — replayed literally by the oracle.
    *
    * Scale shape: the user aggregate is the only data-sized pass (same
    * exchange the funnel pays); everything after runs on a ≤2-row
    * relation collapsed to one row.
    */
  def abTest(events: DataFrame, userCol: String, typeCol: String,
             exposureType: String, convType: String,
             variantOf: Column => Column = u => pmod(u, lit(2)))
      : DataFrame =
    abTestReadout(
      abUserFlags(events, userCol, typeCol, exposureType, convType),
      variantOf)

  /** Per-user exposure/conversion flags — the MERGEABLE unit of the
    * experiment readout: flags of disjoint event slices merge by
    * per-user max, which is what lets a streaming experiment monitor
    * pay per-batch cost ∝ the batch (see stream_abtest) while serving
    * the same readout as the batch operator.
    */
  def abUserFlags(events: DataFrame, userCol: String, typeCol: String,
                  exposureType: String, convType: String): DataFrame =
    events
      .filter(col(userCol).isNotNull)
      .groupBy(col(userCol).as("__u"))
      .agg(
        max(when(col(typeCol) === exposureType, 1L).otherwise(0L))
          .as("__exp"),
        max(when(col(typeCol) === convType, 1L).otherwise(0L))
          .as("__conv"))

  /** A/B readout for a CONTINUOUS metric (revenue per exposed user):
    * per-variant user count, exact total, mean, sample variance, and
    * the Welch t statistic — the experiment readout when the response
    * is money rather than a conversion bit. Non-converting exposed
    * users count with metric 0 (the intent-to-treat convention), so
    * the denominator is exposure, not purchase.
    *
    * Exactness: per-user totals and the per-variant sums stage in
    * exact decimals (value → DECIMAL(28,8); its square → (38,16) —
    * order-independent); the mean/variance/t tail is a FIXED chain of
    * double ops both engines replay literally (the two-pass-free
    * `(Q − S²/n)/(n−1)` form — deterministic, and exact inputs mean
    * no cancellation surprise can differ between engines).
    *
    * Scale shape: one user-keyed aggregate (the exchange every user
    * metric pays) then a 2-cell variant aggregate; nothing after the
    * first aggregate is data-sized.
    */
  def abTestValue(events: DataFrame, userCol: String, typeCol: String,
                  exposureType: String, valueType: String,
                  valueCol: String,
                  variantOf: Column => Column = u => pmod(u, lit(2)))
      : DataFrame = {
    val DecV = DecimalType(28, 8)
    val users = events
      .filter(col(userCol).isNotNull)
      .groupBy(col(userCol).as("__u"))
      .agg(
        max(when(col(typeCol) === exposureType, 1L).otherwise(0L))
          .as("__exp"),
        coalesce(sum(when(col(typeCol) === valueType,
          col(valueCol).cast(DecV))), lit(0).cast(DecV)).as("__rev"))
      .filter(col("__exp") === 1L)
      .withColumn("__v", variantOf(col("__u")))
    // square at DECIMAL(18,8): the product (37,16) stays under both
    // engines' 38-digit cap, so Σrev² is EXACT (contract: per-user
    // revenue < 10^10; wider inputs must pre-scale)
    val DecS = DecimalType(18, 8)
    val cells = users.groupBy((col("__v") === 0).as("__a"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__rev")).as("__s"),
        sum(col("__rev").cast(DecS) * col("__rev").cast(DecS)).as("__q"))
    val flat = cells.agg(
      coalesce(max(when(col("__a"), col("__n"))), lit(0L)).as("n_a"),
      coalesce(max(when(col("__a"), col("__s").cast("double"))), lit(0.0))
        .as("s_a"),
      coalesce(max(when(col("__a"), col("__q").cast("double"))), lit(0.0))
        .as("q_a"),
      coalesce(max(when(!col("__a"), col("__n"))), lit(0L)).as("n_b"),
      coalesce(max(when(!col("__a"), col("__s").cast("double"))), lit(0.0))
        .as("s_b"),
      coalesce(max(when(!col("__a"), col("__q").cast("double"))), lit(0.0))
        .as("q_b"))
    val (na, nb) = (col("n_a").cast("double"), col("n_b").cast("double"))
    val meanA = col("s_a") / na
    val meanB = col("s_b") / nb
    val varA = (col("q_a") - col("s_a") * col("s_a") / na) / (na - lit(1.0))
    val varB = (col("q_b") - col("s_b") * col("s_b") / nb) / (nb - lit(1.0))
    flat.select(
      col("n_a"), col("n_b"),
      meanA.as("mean_a"), meanB.as("mean_b"),
      varA.as("var_a"), varB.as("var_b"),
      when(col("n_a") > 1 && col("n_b") > 1,
        (meanA - meanB) / sqrt(varA / na + varB / nb))
        .otherwise(lit(0.0)).as("t_stat"))
  }

  /** The 2×2 readout over (__u, __exp, __conv) flag rows (see
    * [[abTest]] for semantics and exactness).
    */
  def abTestReadout(flags: DataFrame,
                    variantOf: Column => Column = u => pmod(u, lit(2)))
      : DataFrame = {
    val Dec = DecimalType(38, 0)
    val users = flags
      .filter(col("__exp") === 1L)
      .withColumn("__v", variantOf(col("__u")))
    val cells = users.agg(
      coalesce(sum(when(col("__v") === 0, 1L)), lit(0L)).as("n_a"),
      coalesce(sum(when(col("__v") === 0, col("__conv"))), lit(0L))
        .as("conv_a"),
      coalesce(sum(when(col("__v") =!= 0, 1L)), lit(0L)).as("n_b"),
      coalesce(sum(when(col("__v") =!= 0, col("__conv"))), lit(0L))
        .as("conv_b"))
    // 2x2: a=conv_a, b=n_a-conv_a, c=conv_b, d=n_b-conv_b
    val a = col("conv_a").cast(Dec)
    val b = (col("n_a") - col("conv_a")).cast(Dec)
    val c = col("conv_b").cast(Dec)
    val d = (col("n_b") - col("conv_b")).cast(Dec)
    val n = (col("n_a") + col("n_b")).cast(Dec)
    val num = (a * d - b * c) * (a * d - b * c)
    val den = (a + b) * (c + d) * (a + c) * (b + d)
    cells.select(
      col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      (col("conv_a").cast("double") / col("n_a").cast("double"))
        .as("rate_a"),
      (col("conv_b").cast("double") / col("n_b").cast("double"))
        .as("rate_b"),
      when(den > 0,
        n.cast("double") * num.cast("double") / den.cast("double"))
        .otherwise(lit(0.0)).as("chi2"))
  }

  /** DAU/MAU STICKINESS per day — the engagement-intensity board next
    * to [[rollingActiveUsers]]'s raw counts: of the users active in the
    * trailing `mauWindow` days, what fraction showed up today. Both
    * counts come from ONE [[rollingActiveUsers]] pass (the two windows
    * share the single distinct-(user, day) relation and its window
    * expansion), so the ratio costs nothing beyond the board it
    * annotates. Days inside the MAU window with zero activity report
    * dau = 0 rather than vanishing. The ratio is the operator's only
    * double — ONE division of two exact longs per day.
    */
  def stickiness(events: DataFrame, userCol: String, tsCol: String,
                 mauWindow: Int = 28): DataFrame = {
    require(mauWindow >= 2, "mauWindow must exceed the DAU window")
    val ras = rollingActiveUsers(events, userCol, tsCol, Seq(1, mauWindow))
    val dau = ras.filter(col("window_days") === 1)
      .select(col("day"), col("active_users").as("dau"))
    val mau = ras.filter(col("window_days") === mauWindow)
      .select(col("day"), col("active_users").as("mau"))
    mau.join(dau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"),
        col("mau"),
        (coalesce(col("dau"), lit(0L)).cast("double") /
          col("mau").cast("double")).as("stickiness"))
      .orderBy(col("day"))
  }

  /** Day-of-week SEASONALITY profile per event type: volume and the
    * within-type share for each weekday (0 = Sunday, the DuckDB `dow`
    * convention; Spark's 1-based dayofweek shifts down). One map-side
    * combined (dow, type) aggregate — ≤ 7·|types| rows — plus a
    * broadcast join of the per-type totals; the share is the only
    * double, one division of two exact longs per cell. The weekly-cycle
    * readout [[dailyAnomalies]]'s flat EWMA baseline misses.
    */
  def seasonality(events: DataFrame, tsCol: String,
                  typeCol: String): DataFrame = {
    val dow = (dayofweek(col(tsCol)) - lit(1)).cast("long")
    val cells = events
      .groupBy(dow.as("dow"), col(typeCol).as("event_type"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("event_type"))
      .agg(sum(col("n")).as("__tot"))
    cells.join(broadcast(totals), Seq("event_type"))
      .select(col("dow"), col("event_type"), col("n"),
        (col("n").cast("double") / col("__tot").cast("double"))
          .as("share"))
      .orderBy(col("dow"), col("event_type"))
  }

  /** Per-(user, active day) TRAILING-WINDOW FEATURE MATRIX — the
    * feature-store rows a churn/propensity model trains on: today's
    * event count, trailing 7- and 28-day counts, and days since the
    * previous active day. One (user, day) aggregate (the only
    * event-sized exchange, map-side combined), then three window
    * functions over the SAME user-keyed sort: two integer RANGE frames
    * on the epoch-day index (RANGE, not ROWS — inactive days must not
    * slide into the window) and one lag. All exact integers.
    */
  def userFeatures(events: DataFrame, userCol: String,
                   tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(userCol).as("user_id"), to_date(col(tsCol)).as("__day"))
      .agg(count(lit(1)).as("n_day"))
      .withColumn("__di", datediff(col("__day"), lit("1970-01-01")))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("__di"))
    def trailing(days: Int) = Window.partitionBy(col("user_id"))
      .orderBy(col("__di")).rangeBetween(-(days - 1), 0)
    daily
      .withColumn("n_7d", sum(col("n_day")).over(trailing(7)))
      .withColumn("n_28d", sum(col("n_day")).over(trailing(28)))
      .withColumn("days_since_prev",
        (col("__di") - lag(col("__di"), 1).over(byUser)).cast("long"))
      .select(col("user_id"),
        date_format(col("__day"), "yyyy-MM-dd").as("day"),
        col("n_day"), col("n_7d"), col("n_28d"), col("days_since_prev"))
      .orderBy(col("user_id"), col("day"))
  }

  /** SEASONAL-NAIVE forecast BACKTEST per event type — the honest
    * baseline every volume forecast must beat, evaluated the way a
    * production monitor would: gap-fill each type's daily counts to
    * the global day grid (a missing day is a real zero, and without
    * the fill a ROWS-lag would silently skip it), forecast each
    * holdout day as the count `season` days earlier, and report MAE /
    * bias / totals over the last `holdout` days. The error sums are
    * exact integers (|n − fc| of two longs); MAE and bias are one
    * division each. One (type, day) aggregate — the only event-sized
    * exchange — plus a broadcast day grid and one lag window.
    */
  def seasonalNaiveBacktest(events: DataFrame, tsCol: String,
                            typeCol: String, season: Int = 7,
                            holdout: Int = 7): DataFrame =
    backtestFromDaily(dailyTypeCounts(events, tsCol, typeCol),
      season, holdout)

  /** One batch's (type, day) count partial — the mergeable unit behind
    * the streaming-maintained forecast backtest (counts merge by
    * addition, so per-refresh cost is one narrow aggregate of the new
    * batch). Output columns: (event_type, __day, __n).
    */
  def dailyTypeCounts(events: DataFrame, tsCol: String,
                      typeCol: String): DataFrame =
    events
      .groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("__day"))
      .agg(count(lit(1)).as("__n"))

  /** Serve the forecast backtest from COMMITTED daily-count partials:
    * same-day counts merge by addition across batches (bit-identical
    * to one pass over everything ingested), then the shared
    * [[backtestFromDaily]] tail scores the forecast. Serving reads
    * (types × days) × batches tiny rows; events are never rescanned.
    */
  def backtestServe(spark: org.apache.spark.sql.SparkSession,
                    path: String, season: Int, holdout: Int): DataFrame = {
    val daily = graft.core.IndexCommits.dataStore(spark, path).served()
      .groupBy(col("event_type"), col("__day"))
      .agg(sum(col("__n")).as("__n"))
    backtestFromDaily(daily, season, holdout)
  }

  /** [[seasonalNaiveBacktest]]'s evaluation tail over an
    * already-aggregated (event_type, __day, __n) relation — shared by
    * the batch operator and the streaming serve so both score the
    * identical forecast.
    */
  def backtestFromDaily(daily: DataFrame, season: Int,
                        holdout: Int): DataFrame = {
    require(season >= 1 && holdout >= 1, "season/holdout in days")
    val grid = daily.agg(min(col("__day")).as("__d0"),
        max(col("__day")).as("__d1"))
      .select(explode(sequence(col("__d0"), col("__d1"))).as("__day"),
        datediff(col("__d1"), lit("1970-01-01")).as("__d1i"))
    val full = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(grid))
      .join(daily, Seq("event_type", "__day"), "left")
      .select(col("event_type"), col("__d1i"),
        datediff(col("__day"), lit("1970-01-01")).as("__di"),
        coalesce(col("__n"), lit(0L)).as("__n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("__di"))
    full
      .withColumn("__fc", lag(col("__n"), season).over(w))
      .filter(col("__di") > col("__d1i") - holdout && col("__fc").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("__n")).as("total_actual"),
        sum(col("__fc")).as("total_forecast"),
        sum(abs(col("__n") - col("__fc"))).as("abs_err"))
      .select(col("event_type"), col("n_days"), col("total_actual"),
        col("total_forecast"), col("abs_err"),
        (col("abs_err").cast("double") / col("n_days").cast("double"))
          .as("mae"),
        ((col("total_actual") - col("total_forecast")).cast("double") /
          col("n_days").cast("double")).as("bias"))
      .orderBy(col("event_type"))
  }

  /** Consecutive inter-arrival gaps per (event type, user) in exact
    * event-time MICROSECONDS — the latency raw material behind "how
    * often do users purchase": one user-keyed window lag (ties in ts
    * broken by `tieCol`, so the lag sequence is deterministic
    * cross-engine), long subtraction, first event per series excluded.
    * Feed the result to [[Profile.quantilesByKey]] for exact per-type
    * gap percentiles with no global sort.
    */
  def interarrivalGaps(events: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, tieCol: String): DataFrame = {
    val us = unix_micros(col(tsCol))
    val w = Window.partitionBy(col(typeCol), col(userCol))
      .orderBy(us, col(tieCol))
    events
      .withColumn("gap_us", us - lag(us, 1).over(w))
      .filter(col("gap_us").isNotNull)
      .select(col(typeCol).as("event_type"), col("gap_us"))
  }
}
