package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.Tables
import graft.ops.{EventOps, Profile}
import graft.streaming.EventStream
import graft.queries.OracleCompat.{abtestSql, activeUsersSketchOracle, dsum, funnelNOracle}

/** Event analytics (`ev_*`) over the `events` fixture: sessionization,
  * funnels, retention, attribution, sketches, A/B readouts and time-series
  * forecasting. Each oracle restates the operator's exact arithmetic in
  * DuckDB SQL.
  */
object EvQueries {

  /** Shared oracle texts for the event family — referenced both by the
    * standalone queries and by the ev_pipeline flagship's UNION, so the
    * flagship can never drift from the operators it composes.
    */
  private val transitionsOracle: String =
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |tc AS (
      |  SELECT from_type, to_type, count(*) AS n
      |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  cast(n AS DOUBLE) /
      |    cast(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      |FROM tc
      |ORDER BY from_type, to_type""".stripMargin

  private val attributionOracle: String =
    """WITH attr AS (
      |  SELECT event_type, value,
      |    coalesce(last_value(CASE WHEN event_type IN
      |        ('click', 'view', 'signup') THEN event_type END
      |        IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      '(direct)') AS channel
      |  FROM events)
      |SELECT channel, count(*) AS n_conversions,
      |  cast(sum(cast(value AS DECIMAL(28,8))) AS DOUBLE) AS revenue
      |FROM attr
      |WHERE event_type = 'purchase'
      |GROUP BY channel
      |ORDER BY channel""".stripMargin

  private val MarkovIters = 6

  /** The dq_quantiles_by oracle tail (est + within_bin restated from the
    * exact quantile), shared by ev_interarrival.
    */
  private def quantileTail(bins: Int): String =
    s"""SELECT k AS key, q, quantile,
       |  CASE WHEN hi = lo THEN lo
       |       ELSE lo + least(floor((quantile - lo) /
       |                             ((hi - lo) / $bins.0)), ${bins - 1}) *
       |            ((hi - lo) / $bins.0) END AS est,
       |  abs(quantile -
       |    (CASE WHEN hi = lo THEN lo
       |          ELSE lo + least(floor((quantile - lo) /
       |                                ((hi - lo) / $bins.0)), ${bins - 1}) *
       |               ((hi - lo) / $bins.0) END))
       |    <= (CASE WHEN hi = lo THEN 0.0
       |             ELSE (hi - lo) / $bins.0 END) AS within_bin
       |FROM ex
       |ORDER BY key, q""".stripMargin

  /** The ev_sessionize oracle, also a branch of ev_pipeline's. */
  private val sessionizeOracle: String =
    """WITH g AS (
      |  SELECT user_id, epoch_us(ts) AS us, value,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, us, value,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM g)
      |SELECT user_id, min(us) AS session_start_us, count(*) AS n_events,
      |       max(us) - min(us) AS duration_us,
      |       cast(sum(cast(value AS DECIMAL(28,8))) AS DOUBLE) AS sum_value
      |FROM sess
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_start_us""".stripMargin

  /** The ev_retention oracle, also a branch of ev_pipeline's. */
  private val retentionOracle: String =
    """WITH cohort AS (
      |  SELECT user_id,
      |    strftime(date_trunc('week', min(ts)), '%Y-%m-%d') AS cohort_week
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT user_id,
      |    strftime(date_trunc('week', ts), '%Y-%m-%d') AS active_week
      |  FROM events)
      |SELECT cohort_week, active_week,
      |  count(DISTINCT user_id) AS n_users
      |FROM cohort JOIN activity USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  val all: Seq[Q] = Seq(

    Q("ev_json",
      "JSON property parsing (from_json to a typed struct) + per-type " +
        "aggregate over the events table.",
      (s, d) => Tables.events(s, d)
        .withColumn("k", from_json(col("props"),
          StructType(Seq(StructField("k", LongType)))).getField("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          (sum(col("k")).cast("double") / count(lit(1))).as("avg_k"),
          OracleCompat.dsum(col("value")).as("sum_value"))
        .orderBy("event_type"),
      // DuckDB sum(BIGINT) widens to HUGEINT (int128) which the driver's
      // pandas bridge reads as float64; Spark's sum(long) stays int64.
      // Cast the oracle back to BIGINT so both sides hash as integers.
      Some("""SELECT event_type, count(*) AS n,
             |  cast(sum(cast(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  sum(cast(json_extract_string(props, '$.k') AS BIGINT))::DOUBLE / count(*) AS avg_k,
             |  cast(sum(cast(value AS DECIMAL(28,8))) AS DOUBLE) AS sum_value
             |FROM events
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    Q("ev_window",
      "Tumbling 1-hour window aggregation over event time (batch plan of " +
        "the streaming query below).",
      (s, d) => EventStream.windowedAggBatch(s, d)
        .orderBy("hour_start", "event_type"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             |  event_type, count(*) AS n,
             |  cast(sum(cast(value AS DECIMAL(28,8))) AS DOUBLE) AS sum_value
             |FROM events
             |GROUP BY 1, 2
             |ORDER BY hour_start, event_type""".stripMargin)),

    Q("ev_sessionize",
      "Sessionization with a 30-minute inactivity gap via the built-in " +
        "session_window operator (batch plan of the same stateful shape " +
        "Structured Streaming runs); oracle restates it as the classic " +
        "lag + cumulative-sum window formulation — two independent " +
        "definitions, one result.",
      (s, d) => graft.ops.EventOps.sessionize(Tables.events(s, d),
          "user_id", "ts", "value")
        .orderBy("user_id", "session_start_us"),
      Some(sessionizeOracle)),

    Q("ev_sketch",
      "Sketch aggregates per event type with a BOUNDED-ERROR oracle: " +
        "approx_count_distinct (HLL++, rsd=0.01) and percentile_approx " +
        "are the sub-linear-memory path for cardinality/quantiles at " +
        "100 TB. The output carries the exact counts (hash-checked " +
        "against DuckDB) plus booleans asserting |approx-exact|/exact " +
        "< 0.05 and p50_approx ∈ [p45_exact, p55_exact], computed where " +
        "the approx values live (Spark) and asserted true in the oracle — " +
        "so sketch drift or a broken sketch fails the round, while " +
        "run-to-run merge-order wobble inside the bound does not. Both " +
        "assertions are guarded against data-dependent flakes: an " +
        "exact_users=0 group asserts au=0 instead of dividing by zero, " +
        "and the percentile band is only asserted for groups with n ≥ 20 " +
        "and non-null percentiles (tiny groups can legitimately put the " +
        "approx p50 outside the interpolated [p45,p55] band).",
      (s, d) => {
        val ev = Tables.events(s, d)
        // The exact distinct count runs as its OWN aggregation, joined
        // back on the 5-row group key, instead of inside the sketch agg:
        // a mixed distinct/non-distinct Aggregate is planned as a
        // two-level rewrite whose FIRST level keys on
        // (event_type, user_id) — so every heavyweight "regular" buffer
        // (the rsd=0.01 HLL++ sketch is ~16 KiB of registers, the exact
        // percentile an ObjectAgg holding its values) was built once PER
        // (group, user) PAIR (7.5k pairs at sf0.1 = ~120 MiB of sketch
        // churn) and then merged, instead of once per group (5). Split,
        // each side is a single clean two-phase agg: sketches partial-
        // aggregate map-side keyed by event_type alone, the distinct
        // count keys on the pair with plain count buffers. Same values,
        // same schema (oracle-pinned); the extra scan of the 5-column
        // events projection is far cheaper than the per-pair buffers
        // (profile: 6.1 s of single-task sketch CPU → sub-second;
        // bench best 4.95 s solo / 7.57 s in-suite → see
        // OPTIMIZATION_r17.md for the after numbers).
        val sketch = ev
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            approx_count_distinct(col("user_id"), 0.01).as("au"),
            percentile_approx(col("value"), lit(0.5), lit(1000)).as("ap50"),
            // ONE exact-percentile aggregate for both band edges: each
            // `percentile` is an ObjectAgg buffering every group value,
            // so two separate calls buffered (and sorted) the corpus
            // twice; the array form shares one buffer and one sort —
            // identical values, same math (bench: 3.87 → 3.10 s best-of-2)
            percentile(col("value"), array(lit(0.45), lit(0.55)))
              .as("p4555"))
        // joined back null-safely: a NULL event_type is a group of its
        // own (as in the oracle's single GROUP BY), not dropped by `=`
        val exact = ev
          .groupBy(col("event_type").as("exact_type"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        sketch.join(exact, col("event_type") <=> col("exact_type"))
        .withColumn("p45", element_at(col("p4555"), 1))
        .withColumn("p55", element_at(col("p4555"), 2))
        .select(col("event_type"), col("n"), col("exact_users"),
          when(col("exact_users") === 0, col("au") === 0)
            .otherwise(
              abs(col("au") - col("exact_users")) / col("exact_users") < 0.05)
            .as("hll_within_5pct"),
          when(col("n") < 20 || col("ap50").isNull || col("p45").isNull,
              lit(true))
            .otherwise(col("ap50") >= col("p45") && col("ap50") <= col("p55"))
            .as("p50_within_decile"))
        .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  count(DISTINCT user_id) AS exact_users,
             |  true AS hll_within_5pct,
             |  true AS p50_within_decile
             |FROM events
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    Q("ev_funnel",
      "Strict sequential conversion funnel over the event stream: users " +
        "whose first view precedes a click that precedes a purchase — " +
        "each stage's timestamp must strictly follow the previous " +
        "stage's (the ordering constraint that separates a funnel from " +
        "three independent counts). Served by the generic N-stage " +
        "Funnel operator: ONE hash exchange on user_id collects each " +
        "user's sorted relevant events, the greedy earliest-match chain " +
        "runs INSIDE the row as a left fold, and the three counts are " +
        "one conditional 1-row aggregate — the join-per-stage shape " +
        "this replaced planned one exchange per stage. Integer output, " +
        "no float drift surface at all.",
      (s, d) => {
        val depths = graft.ops.Funnel.userDepths(Tables.events(s, d),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        depths.agg(
          coalesce(sum(when(col("depth") >= 1, 1L).otherwise(0L)), lit(0L))
            .as("n_view"),
          coalesce(sum(when(col("depth") >= 2, 1L).otherwise(0L)), lit(0L))
            .as("n_view_click"),
          coalesce(sum(when(col("depth") >= 3, 1L).otherwise(0L)), lit(0L))
            .as("n_view_click_purchase"))
      },
      Some("""WITH v AS (
             |  SELECT user_id, min(ts) AS v FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |c AS (
             |  SELECT e.user_id, min(e.ts) AS c
             |  FROM events e JOIN v USING (user_id)
             |  WHERE e.event_type = 'click' AND e.ts > v.v GROUP BY 1),
             |p AS (
             |  SELECT e.user_id, min(e.ts) AS p
             |  FROM events e JOIN c USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts > c.c GROUP BY 1)
             |SELECT (SELECT count(*) FROM v) AS n_view,
             |       (SELECT count(*) FROM c) AS n_view_click,
             |       (SELECT count(*) FROM p) AS n_view_click_purchase""".stripMargin)),

    Q("ev_retention",
      "Cohort retention matrix: users grouped by signup week (their " +
        "min signup event), counted as retained in every ISO week they " +
        "show ANY activity — the (cohort x activity-week) grid every " +
        "product-analytics stack draws. user-keyed cohort aggregate, " +
        "(user, week) distinct, one co-partitioned join, bounded " +
        "(weeks x weeks) output. Weeks emitted as date strings so the " +
        "timestamp type never crosses the engine boundary.",
      (s, d) => graft.ops.EventOps.cohortRetention(Tables.events(s, d),
          "user_id", "ts", "event_type", cohortType = "signup")
        .orderBy(col("cohort_week"), col("active_week")),
      Some(retentionOracle)),

    Q("ev_funnel_n",
      "The generic N-stage funnel at N = 5 — signup -> view -> click -> " +
        "view -> purchase (a REPEATED stage: the second view must " +
        "strictly follow the click, which a per-type min-ts chain can " +
        "only express with one join per stage) — served by the Funnel " +
        "operator in ONE hash exchange on user_id: per-user sorted " +
        "event lists, the greedy earliest-match chain as an in-row left " +
        "fold, per-stage counts as one conditional 1-row aggregate. " +
        "The oracle unrolls the equivalent five-stage min-ts join " +
        "chain, which the greedy fold provably matches stage by stage.",
      (s, d) => graft.ops.Funnel.funnel(Tables.events(s, d),
        "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "view", "purchase")),
      Some(funnelNOracle)),

    Q("ev_funnel_window",
      "The sequential funnel with a CONVERSION WINDOW — signup -> view " +
        "-> purchase where each stage must land within 1 hour of the " +
        "previous match (the 'convert within N' contract every funnel " +
        "product ships): same ONE user-key exchange and in-row greedy " +
        "fold as ev_funnel_n, the window test in exact integer " +
        "microseconds (unix_micros == the oracle's epoch_us, no " +
        "truncation drift). The oracle unrolls the min-ts join chain " +
        "with the same strict-after + within-window predicate — " +
        "equivalent because the greedy match IS the earliest " +
        "qualifying event.",
      (s, d) => graft.ops.Funnel.funnel(Tables.events(s, d),
        "user_id", "ts", "event_type",
        Seq("signup", "view", "purchase"), maxGapSeconds = Some(3600L)),
      Some("""WITH s1 AS (
             |  SELECT user_id, min(ts) AS t FROM events
             |  WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (
             |  SELECT e.user_id, min(e.ts) AS t
             |  FROM events e JOIN s1 USING (user_id)
             |  WHERE e.event_type = 'view' AND e.ts > s1.t
             |    AND epoch_us(e.ts) - epoch_us(s1.t) <= 3600000000
             |  GROUP BY 1),
             |s3 AS (
             |  SELECT e.user_id, min(e.ts) AS t
             |  FROM events e JOIN s2 USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts > s2.t
             |    AND epoch_us(e.ts) - epoch_us(s2.t) <= 3600000000
             |  GROUP BY 1)
             |SELECT * FROM (
             |  SELECT 1 AS stage_idx, 'signup' AS stage,
             |         (SELECT count(*) FROM s1) AS n_users
             |  UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
             |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
             |ORDER BY stage_idx""".stripMargin)),

    Q("ev_pipeline",
      "The event-analytics flagship — sessionization, the 5-stage " +
        "funnel, last-touch attribution, cohort retention and the " +
        "transition matrix composed into ONE KPI report (long format: " +
        "metric, k1, k2, n, v), the product-analytics counterpart of " +
        "pretrain_pipeline. Each branch is the already-verified " +
        "operator (same code paths), reshaped and unioned lazily — " +
        "Spark runs the five branches as one query. The oracle UNIONs " +
        "the very oracle texts of the standalone queries (shared " +
        "string constants, subquery-wrapped), so the flagship can " +
        "never drift from the operators it composes.",
      (s, d) => {
        val ev = Tables.events(s, d)
        import org.apache.spark.sql.Column
        def shape(metric: String, k1: Column, k2: Column, n: Column,
                  v: Column)(df: org.apache.spark.sql.DataFrame) =
          df.select(lit(metric).as("metric"), k1.cast("string").as("k1"),
            k2.cast("string").as("k2"), n.cast("long").as("n"),
            v.cast("double").as("v"))
        val sessions = shape("sessions", lit(""), lit(""), col("__c"),
          col("__e").cast("double") / col("__c"))(
          EventOps.sessionize(ev, "user_id", "ts", "value")
            .agg(count(lit(1)).as("__c"), sum(col("n_events")).as("__e")))
        val funnel = shape("funnel", col("stage"), col("stage_idx"),
          col("n_users"), lit(0.0))(
          graft.ops.Funnel.funnel(ev, "user_id", "ts", "event_type",
            Seq("signup", "view", "click", "view", "purchase")))
        val attrib = shape("attribution", col("channel"), lit(""),
          col("n_conversions"), col("revenue"))(
          EventOps.lastTouchAttribution(ev, "user_id", "ts", "event_type",
            "event_id", Seq("click", "view", "signup"), "purchase", "value"))
        val retention = shape("retention", col("cohort_week"),
          col("active_week"), col("n_users"), lit(0.0))(
          EventOps.cohortRetention(ev, "user_id", "ts", "event_type",
            cohortType = "signup"))
        val transitions = shape("transition", col("from_type"),
          col("to_type"), col("n"), col("p"))(
          EventOps.transitions(ev, "user_id", "ts", "event_type",
            "event_id"))
        sessions.unionByName(funnel).unionByName(attrib)
          .unionByName(retention).unionByName(transitions)
          .orderBy(col("metric"), col("k1"), col("k2"))
      },
      Some {
        // wrap each standalone oracle as a subquery
        s"""SELECT * FROM (
           |SELECT 'sessions' AS metric, '' AS k1, '' AS k2,
           |  count(*) AS n,
           |  cast(sum(n_events) AS DOUBLE) / count(*) AS v
           |FROM ($sessionizeOracle)
           |UNION ALL
           |SELECT 'funnel', stage, CAST(stage_idx AS VARCHAR), n_users, 0.0
           |FROM ($funnelNOracle)
           |UNION ALL
           |SELECT 'attribution', channel, '', n_conversions, revenue
           |FROM ($attributionOracle)
           |UNION ALL
           |SELECT 'retention', cohort_week, active_week, n_users, 0.0
           |FROM ($retentionOracle)
           |UNION ALL
           |SELECT 'transition', from_type, to_type, n, p
           |FROM ($transitionsOracle)
           |) ORDER BY metric, k1, k2""".stripMargin
      }),

    Q("ev_rfm",
      "RFM customer scoring (recency / frequency / monetary quintiles, " +
        "5 = best) — the CRM segmentation backbone. The classic " +
        "ntile(5) would global-sort the user relation through one " +
        "partition; here the quintile boundaries come from ONE exact " +
        "percentile aggregate (the q21 percentile == quantile_cont " +
        "cross-engine equivalence) broadcast back, and every user " +
        "scores by threshold comparison at scan stage — no global " +
        "sort at any size.",
      (s, d) => EventOps.rfm(Tables.events(s, d), "user_id", "ts",
        "event_type", conversionType = "purchase", valueCol = "value"),
      Some {
        def q(v: String, t: String): String =
          "(1 + " + (1 to 4).map(i =>
            s"(CASE WHEN $v > $t[$i] THEN 1 ELSE 0 END)").mkString(" + ") + ")"
        s"""WITH conv AS (
           |  SELECT * FROM events WHERE event_type = 'purchase'),
           |d1 AS (SELECT max(ts::DATE) AS d1 FROM conv),
           |per AS (
           |  SELECT user_id,
           |    CAST(datediff('day', max(ts::DATE), (SELECT d1 FROM d1))
           |      AS BIGINT) AS recency_days,
           |    count(*) AS frequency,
           |    cast(sum(cast(value AS DECIMAL(28,8))) AS DOUBLE) AS monetary
           |  FROM conv GROUP BY user_id),
           |th AS (
           |  SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS tr,
           |         quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS tf,
           |         quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS tm
           |  FROM per)
           |SELECT user_id, recency_days, frequency, monetary,
           |  CAST(6 - ${q("recency_days::DOUBLE", "tr")} AS BIGINT)
           |    AS r_score,
           |  CAST(${q("frequency::DOUBLE", "tf")} AS BIGINT) AS f_score,
           |  CAST(${q("monetary", "tm")} AS BIGINT) AS m_score
           |FROM per, th
           |ORDER BY user_id""".stripMargin
      }),

    Q("ev_transitions",
      "Markov next-event transition matrix: adjacent event pairs per " +
        "user (ordered by (ts, event_id) so equal timestamps are " +
        "deterministic), counted into the |types| x |types| matrix with " +
        "per-source transition probabilities — the navigation-flow / " +
        "behavioral-model input. ONE user-keyed exchange for the lead " +
        "window; the (from, to) aggregate map-side-combines every " +
        "partition to <= 25 rows before the second (trivial) exchange; " +
        "the probability normalization is a window over the bounded " +
        "matrix itself.",
      (s, d) => EventOps.transitions(Tables.events(s, d),
        "user_id", "ts", "event_type", "event_id"),
      Some(transitionsOracle)),

    Q("ev_attribution",
      "Last-touch conversion attribution: every purchase credits the " +
        "most recent strictly-preceding touch event (click/view/signup) " +
        "of its user, or the '(direct)' sentinel when none precedes it; " +
        "revenue sums through exact decimal so channel totals are " +
        "order-independent. The carry-forward is last(..ignoreNulls) " +
        "over a user-keyed frame ending at the PREVIOUS row — strict " +
        "precedence holds even under equal timestamps because only rows " +
        "physically before the conversion (by the (ts, event_id) sort) " +
        "are in frame. One user exchange + a |channels|-row rollup.",
      (s, d) => EventOps.lastTouchAttribution(Tables.events(s, d),
        "user_id", "ts", "event_type", "event_id",
        touchTypes = Seq("click", "view", "signup"),
        conversionType = "purchase", valueCol = "value"),
      Some(attributionOracle)),

    Q("ev_gapfill",
      "Dense daily time series for a bounded watchlist (users with " +
        "user_id % 50 = 1): purchase counts per (user, day) over the " +
        "full observation window, ZERO-FILLED on empty days, with " +
        "last-observation-carried-forward daily revenue — the gap-fill " +
        "+ LOCF pass every dashboard and feature-store export needs. " +
        "The day spine is a 1-row min/max aggregate exploded and " +
        "broadcast; the users x days grid is bounded by construction; " +
        "the sparse facts aggregate once on (user, day) and left-join " +
        "the grid; LOCF is a window over the bounded grid.",
      (s, d) => {
        val ev = Tables.events(s, d)
        val sel = ev.filter(col("user_id") % 50 === 1 &&
          col("event_type") === "purchase")
        EventOps.gapFillDaily(sel, ev, "user_id", "ts", "value")
      },
      Some("""WITH bounds AS (
             |  SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events),
             |days AS (
             |  SELECT unnest(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
             |    INTERVAL 1 DAY))::DATE AS day
             |  FROM bounds),
             |sel AS (
             |  SELECT * FROM events
             |  WHERE user_id % 50 = 1 AND event_type = 'purchase'),
             |users AS (SELECT DISTINCT user_id FROM sel),
             |daily AS (
             |  SELECT user_id, ts::DATE AS day, count(*) AS n,
             |    cast(sum(cast(value AS DECIMAL(28,8))) AS DOUBLE) AS rev
             |  FROM sel GROUP BY 1, 2),
             |grid AS (
             |  SELECT u.user_id, d.day FROM users u CROSS JOIN days d)
             |SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
             |  coalesce(dy.n, 0) AS n_events,
             |  coalesce(last_value(dy.rev IGNORE NULLS)
             |    OVER (PARTITION BY g.user_id ORDER BY g.day
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |    0.0::DOUBLE) AS rev_locf
             |FROM grid g
             |LEFT JOIN daily dy ON dy.user_id = g.user_id AND dy.day = g.day
             |ORDER BY g.user_id, g.day""".stripMargin)),

    Q("ev_anomaly",
      "Daily volume anomalies per event type: each (type, day) count " +
        "z-scored against its own type's day-count distribution, " +
        "|z| > 2 flags — the ingest-feed drop/spike detector. One " +
        "shuffle to the daily aggregate; the per-type stats are a " +
        "second aggregate over the tiny (types x days) relation, " +
        "broadcast back. Daily counts are integers, so sums and " +
        "sums-of-squares are exact BIGINT arithmetic and the derived " +
        "mean/std/z are engine-identical IEEE doubles — no decimal " +
        "staging needed anywhere.",
      (s, d) => EventOps.dailyAnomalies(Tables.events(s, d),
        "event_type", "ts", z = 2.0),
      Some("""WITH daily AS (
             |  SELECT event_type, ts::DATE AS day, count(*) AS n_events
             |  FROM events GROUP BY 1, 2),
             |st AS (
             |  SELECT event_type, count(*) AS days,
             |    sum(n_events) AS s, sum(n_events * n_events) AS s2
             |  FROM daily GROUP BY 1),
             |x AS (
             |  SELECT event_type,
             |    s::DOUBLE / days AS mean_daily,
             |    sqrt(greatest(s2::DOUBLE / days -
             |      (s::DOUBLE / days) * (s::DOUBLE / days), 0.0)) AS std
             |  FROM st)
             |SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
             |  d.n_events, x.mean_daily,
             |  CASE WHEN x.std > 0 THEN (d.n_events - x.mean_daily) / x.std
             |       ELSE 0.0 END AS zscore,
             |  abs(CASE WHEN x.std > 0
             |           THEN (d.n_events - x.mean_daily) / x.std
             |           ELSE 0.0 END) > 2.0 AS is_anomaly
             |FROM daily d JOIN x USING (event_type)
             |ORDER BY d.event_type, d.day""".stripMargin)),

    Q("ev_active_users",
      "Rolling distinct active users per day for 1/7/28-day trailing " +
        "windows (DAU/WAU/MAU in one query). Exact sliding distinct " +
        "doesn't decompose, so the plan is coverage expansion over " +
        "the DEDUPED (user, day) relation — the only event-sized " +
        "shuffle — each user-day expanding to the cover days it keeps " +
        "the user active for, one distinct + count per (window, day). " +
        "Cost is independent of raw event volume.",
      (s, d) => EventOps.rollingActiveUsers(Tables.events(s, d),
        "user_id", "ts", Seq(1, 7, 28)),
      Some("""WITH daily AS (
             |  SELECT DISTINCT user_id AS u, ts::DATE AS day FROM events),
             |b AS (SELECT max(day) AS d1 FROM daily),
             |w(w) AS (VALUES (1), (7), (28)),
             |ks AS (SELECT cast(k AS INTEGER) AS k
             |       FROM generate_series(0, 27) g(k)),
             |cov AS (
             |  SELECT DISTINCT w.w, daily.u, daily.day + ks.k AS cover
             |  FROM daily, w, ks WHERE ks.k < w.w),
             |clipped AS (SELECT * FROM cov, b WHERE cover <= d1)
             |SELECT w AS window_days, strftime(cover, '%Y-%m-%d') AS day,
             |  count(*) AS active_users
             |FROM clipped
             |GROUP BY w, cover
             |ORDER BY window_days, day""".stripMargin)),

    Q("ev_funnel_timing",
      "Conversion-timing report for the view → click → purchase " +
        "funnel: per adjacent transition, how many users converted " +
        "and how long it took them (mean + median of the stage gap). " +
        "Gaps are exact integer microseconds from the greedy chain's " +
        "matched timestamps (the per-user times array the N-stage " +
        "fold now exposes); the mean divides an exact decimal sum, " +
        "the median is percentile ≡ quantile_cont interpolation on " +
        "integers. Same single user-key exchange as ev_funnel.",
      (s, d) => graft.ops.Funnel.funnelTiming(Tables.events(s, d),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")),
      Some("""WITH v AS (
             |  SELECT user_id, min(ts) AS t FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |c AS (
             |  SELECT e.user_id, min(e.ts) AS t
             |  FROM events e JOIN v USING (user_id)
             |  WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY 1),
             |p AS (
             |  SELECT e.user_id, min(e.ts) AS t
             |  FROM events e JOIN c USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY 1),
             |g1 AS (
             |  SELECT epoch_us(c.t) - epoch_us(v.t) AS gap_us
             |  FROM c JOIN v USING (user_id)),
             |g2 AS (
             |  SELECT epoch_us(p.t) - epoch_us(c.t) AS gap_us
             |  FROM p JOIN c USING (user_id))
             |SELECT 1 AS from_idx, 'view' AS stage_from,
             |  'click' AS stage_to, count(*) AS n_converted,
             |  cast(sum(gap_us) AS DOUBLE) / count(*) / 1000000.0
             |    AS mean_gap_s,
             |  quantile_cont(gap_us, 0.5) / 1000000.0 AS p50_gap_s
             |FROM g1
             |UNION ALL
             |SELECT 2, 'click', 'purchase', count(*),
             |  cast(sum(gap_us) AS DOUBLE) / count(*) / 1000000.0,
             |  quantile_cont(gap_us, 0.5) / 1000000.0
             |FROM g2
             |ORDER BY from_idx""".stripMargin)),

    Q("ev_active_users_sketch",
      "The rolling-active-users SKETCH path — what actually ships at " +
        "100 TB: one scan builds a per-day HLL of the user set, and " +
        "every (window, day) cell is a union of <= window daily " +
        "sketches (distinct counts don't merge across days; sketches " +
        "do), so the sliding union never rescans events. Output " +
        "carries the exact count plus the ev_sketch bounded-error " +
        "boolean: a broken union fails the round, in-bound wobble " +
        "doesn't.",
      (s, d) => EventOps.rollingActiveUsersSketch(Tables.events(s, d),
        "user_id", "ts", Seq(1, 7, 28), tol = 0.05),
      Some(activeUsersSketchOracle)),

    Q("ev_paths",
      "Top-20 session PATHS: gap-sessionize (30 min), join each " +
        "session's event types in (ts, event_id) order into a " +
        "'view>click>purchase' string, count across sessions, top-k by " +
        "(frequency, path) - the what-do-users-actually-do report next " +
        "to the funnel's do-they-do-THIS. One session_window exchange, " +
        "in-row path assembly, map-side-combined path counts, " +
        "TakeOrderedAndProject for the top-k; the oracle restates " +
        "sessionization as lag + cumulative sum and the path as an " +
        "ordered string_agg.",
      (s, d) => EventOps.sessionPaths(Tables.events(s, d),
        "user_id", "ts", "event_type", "event_id"),
      Some("""WITH g AS (
             |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
             |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT user_id, us, event_id, event_type,
             |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
             |      ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM g),
             |paths AS (
             |  SELECT user_id, session_id,
             |    string_agg(event_type, '>' ORDER BY us, event_id) AS path
             |  FROM sess GROUP BY 1, 2)
             |SELECT path, count(*) AS n_sessions FROM paths
             |GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin)),

    Q("ev_overlap",
      "Engaged-audience overlap matrix: segments are users with >= 15 " +
        "events of a type; every segment pair reports both sizes, the " +
        "intersection, and Jaccard affinity. One map-side-combinable " +
        "(user, type) aggregate, a user-co-partitioned self-join with " +
        "per-user fanout bounded by |types|^2, output bounded by the " +
        "type vocabulary - nothing user-sized crosses a second exchange.",
      (s, d) => EventOps.segmentOverlap(Tables.events(s, d),
          "user_id", "event_type", minEvents = 15L)
        .orderBy("type_a", "type_b"),
      Some("""WITH ut AS (
             |  SELECT user_id AS u, event_type AS t FROM events
             |  GROUP BY 1, 2 HAVING count(*) >= 15),
             |sizes AS (SELECT t, count(*) AS n FROM ut GROUP BY t),
             |ovl AS (
             |  SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_both
             |  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
             |  GROUP BY 1, 2)
             |SELECT type_a, type_b, na.n AS n_a, nb.n AS n_b, n_both,
             |  n_both::DOUBLE / (na.n + nb.n - n_both) AS jaccard
             |FROM ovl JOIN sizes na ON na.t = type_a
             |         JOIN sizes nb ON nb.t = type_b
             |ORDER BY type_a, type_b""".stripMargin)),

    Q("ev_downsample",
      "Time-bucket downsampling with open/close semantics (the OHLC " +
        "shape every metrics store serves): per (event_type, day) the " +
        "first and last value under the total (ts, event_id) order " +
        "plus min/max/count/decimal-exact sum. First/last via two " +
        "row_number passes over the SAME partition keys — one " +
        "shuffle, two sorts — then one partial-aggregated groupBy; " +
        "no self-join, no collect. The deterministic replacement for " +
        "first()/last() (which are order-undefined in both engines).",
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("day", date_format(date_trunc("day", col("ts")),
            "yyyy-MM-dd"))
        val w = Window.partitionBy(col("event_type"), col("day"))
        val asc = w.orderBy(col("ts").asc, col("event_id").asc)
        val desc = w.orderBy(col("ts").desc, col("event_id").desc)
        ev.withColumn("__ra", row_number().over(asc))
          .withColumn("__rd", row_number().over(desc))
          .groupBy(col("event_type"), col("day"))
          .agg(max(when(col("__ra") === 1, col("value"))).as("open"),
            max(when(col("__rd") === 1, col("value"))).as("close"),
            min(col("value")).as("lo"), max(col("value")).as("hi"),
            count(lit(1)).as("n"), dsum(col("value")).as("vsum"))
          .orderBy("event_type", "day")
      },
      Some("""WITH r AS (
             |  SELECT event_type,
             |    strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             |    value,
             |    row_number() OVER (PARTITION BY event_type,
             |      date_trunc('day', ts) ORDER BY ts, event_id) AS ra,
             |    row_number() OVER (PARTITION BY event_type,
             |      date_trunc('day', ts) ORDER BY ts DESC, event_id DESC)
             |      AS rd
             |  FROM events)
             |SELECT event_type, day,
             |  max(CASE WHEN ra = 1 THEN value END) AS open,
             |  max(CASE WHEN rd = 1 THEN value END) AS close,
             |  min(value) AS lo, max(value) AS hi, count(*) AS n,
             |  cast(sum(cast(value AS DECIMAL(28,8))) AS DOUBLE) AS vsum
             |FROM r
             |GROUP BY 1, 2
             |ORDER BY event_type, day""".stripMargin)),

    Q("ev_ewma",
      "EWMA smoothing of the per-type daily count series " +
        "(EventOps.ewmaDaily) — the drifting-baseline trend every " +
        "metrics store draws next to the raw series (and the " +
        "complement to ev_anomaly's global z-score, which flags every " +
        "point of a trending series). α is FIXED at 1/2 so the " +
        "2^(k−1)-scaled recursion becomes an INTEGER cumulative sum " +
        "S_k = n_1 + Σ n_j·2^(j−2) carried in exact DECIMAL(38,0) " +
        "arithmetic, finished by one correctly-rounded decimal→double " +
        "cast and an exact power-of-two division — bit-identical " +
        "across engines (a decimal-staged n·2^-i term sum is NOT: its " +
        "terminating binary fractions land exactly on 14-dp half-ties " +
        "where Spark rounds HALF_UP and DuckDB HALF_EVEN). " +
        "Corpus-sized work is ONE daily aggregate; the smoothing is a " +
        "single key-partitioned window pass over the clock-bounded " +
        "daily relation, where the recursive form would serialize and " +
        "a closed-form expansion would self-join days².",
      (s, d) => EventOps.ewmaDaily(Tables.events(s, d), "event_type", "ts"),
      Some("""WITH daily AS (
             |  SELECT event_type, date_trunc('day', ts) AS d,
             |    count(*) AS n_events
             |  FROM events GROUP BY 1, 2),
             |idx AS (
             |  SELECT *, row_number() OVER (PARTITION BY event_type
             |    ORDER BY d) AS k
             |  FROM daily),
             |sc AS (
             |  SELECT *, CAST(CASE WHEN k = 1 THEN CAST(n_events AS DOUBLE)
             |    ELSE CAST(n_events AS DOUBLE) * pow(2.0, k - 2) END
             |    AS DECIMAL(38,0)) AS w
             |  FROM idx)
             |SELECT event_type, strftime(d, '%Y-%m-%d') AS day, n_events,
             |  CAST(sum(w) OVER (PARTITION BY event_type ORDER BY d
             |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / pow(2.0, k - 1)
             |    AS ewma
             |FROM sc
             |ORDER BY event_type, day""".stripMargin)),

    Q("ev_markov_stationary",
      "Stationary distribution of the ev_transitions Markov chain by " +
        "power iteration (6 rounds from uniform; sink states " +
        "self-loop) — the long-run visit share per event type that a " +
        "transition matrix doesn't directly give. The matrix is " +
        "BOUNDED (|types|² rows), so it collects once and the " +
        "iteration is driver-local doubles whose per-state sums fold " +
        "in from-state order — bit-replayed by the oracle's unrolled " +
        "MATERIALIZED CTEs with list_reduce (a zero-mass state " +
        "contributes 0.0 addends; acc+0.0 ≡ acc, so dropped-vs-zero " +
        "cannot diverge). Corpus-sized work is exactly the ONE " +
        "user-keyed exchange ev_transitions already pays.",
      (s, d) => EventOps.markovStationary(Tables.events(s, d),
        "user_id", "ts", "event_type", "event_id", iters = MarkovIters),
      Some {
        val iterCtes = (1 to MarkovIters).map { j =>
          s"""pi$j AS MATERIALIZED (
             |  SELECT pm.to_type AS st,
             |    list_reduce(list(pi.x * pm.p ORDER BY pm.from_type),
             |      (a, b) -> a + b) AS x
             |  FROM pm JOIN pi${j - 1} pi ON pi.st = pm.from_type
             |  GROUP BY pm.to_type)""".stripMargin
        }.mkString(",\n")
        s"""WITH seq AS (
           |  SELECT event_type AS from_type,
           |    lead(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS to_type
           |  FROM events),
           |tc AS (
           |  SELECT from_type, to_type, count(*) AS n
           |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
           |probs AS MATERIALIZED (
           |  SELECT from_type, to_type,
           |    cast(n AS DOUBLE) /
           |      cast(sum(n) OVER (PARTITION BY from_type) AS DOUBLE)
           |      AS p
           |  FROM tc),
           |states AS MATERIALIZED (
           |  SELECT from_type AS st FROM probs
           |  UNION SELECT to_type FROM probs),
           |pm AS MATERIALIZED (
           |  SELECT from_type, to_type, p FROM probs
           |  UNION ALL
           |  SELECT st, st, 1.0::DOUBLE FROM states
           |  WHERE st NOT IN (SELECT from_type FROM probs)),
           |kk AS (SELECT count(*) AS k FROM states),
           |pi0 AS MATERIALIZED (
           |  SELECT st, 1.0::DOUBLE / k AS x FROM states, kk),
           |$iterCtes
           |SELECT s.st AS event_type,
           |  coalesce(pf.x, 0.0) AS stationary
           |FROM states s LEFT JOIN pi$MarkovIters pf ON pf.st = s.st
           |ORDER BY event_type""".stripMargin
      }),

    Q("ev_growth",
      "Growth accounting (the quick-ratio framework): every active " +
        "(user, week) classified new / retained / resurrected, churn " +
        "attributed to the week after a user's last activity, and " +
        "quick_ratio = (new + resurrected) / churned — the per-week " +
        "state decomposition next to ev_retention's cohort grid. " +
        "Weeks are epoch-micros of the Monday truncation (integer " +
        "seam, both engines truncate to Monday); adjacency is long " +
        "arithmetic; one (user, week) distinct then a user-partitioned " +
        "lag/lead window and weeks-sized aggregates.",
      (s, d) => graft.ops.EventOps.growthAccounting(Tables.events(s, d),
        "user_id", "ts"),
      Some("""WITH uw AS (
             |  SELECT DISTINCT user_id,
             |    epoch_us(CAST(date_trunc('week', ts) AS TIMESTAMP)) AS wk
             |  FROM events WHERE user_id IS NOT NULL),
             |st AS (
             |  SELECT user_id, wk,
             |    lag(wk) OVER w AS prev_wk, lead(wk) OVER w AS next_wk
             |  FROM uw WINDOW w AS (PARTITION BY user_id ORDER BY wk)),
             |act AS (
             |  SELECT wk,
             |    CAST(coalesce(sum(CASE WHEN prev_wk IS NULL
             |      THEN 1 END), 0) AS BIGINT) AS n_new,
             |    CAST(coalesce(sum(CASE WHEN prev_wk = wk - 604800000000
             |      THEN 1 END), 0) AS BIGINT) AS n_retained,
             |    CAST(coalesce(sum(CASE WHEN prev_wk IS NOT NULL
             |      AND prev_wk < wk - 604800000000
             |      THEN 1 END), 0) AS BIGINT) AS n_resurrected
             |  FROM st GROUP BY 1),
             |ch AS (
             |  SELECT wk + 604800000000 AS wk,
             |    CAST(count(*) AS BIGINT) AS n_churned
             |  FROM st
             |  WHERE next_wk IS NULL OR next_wk > wk + 604800000000
             |  GROUP BY 1),
             |j AS (
             |  SELECT coalesce(a.wk, c.wk) AS wk,
             |    coalesce(n_new, 0) AS n_new,
             |    coalesce(n_retained, 0) AS n_retained,
             |    coalesce(n_resurrected, 0) AS n_resurrected,
             |    coalesce(n_churned, 0) AS n_churned
             |  FROM act a FULL OUTER JOIN ch c ON a.wk = c.wk)
             |SELECT strftime(make_timestamp(wk), '%Y-%m-%d') AS week_start,
             |  n_new, n_retained, n_resurrected, n_churned,
             |  CASE WHEN n_churned > 0
             |       THEN CAST(n_new + n_resurrected AS DOUBLE) /
             |            CAST(n_churned AS DOUBLE) END AS quick_ratio
             |FROM j ORDER BY week_start""".stripMargin)),

    Q("ev_abtest",
      "A/B experiment readout over the event log: variant = user_id " +
        "parity (a pure function of the id — reproducible assignment), " +
        "exposure = any 'view' event, conversion = any 'purchase'. Per " +
        "variant the exposed/converted counts and conversion rate, plus " +
        "the Pearson chi-square of the 2x2 table. ONE user-keyed " +
        "map-side-combined aggregate is the only data-sized pass; the " +
        "2x2 arithmetic stays integer (DECIMAL(38,0) cross terms) with " +
        "a fixed double(N)*double(num)/double(den) finish both engines " +
        "replay literally.",
      (s, d) => EventOps.abTest(Tables.events(s, d), "user_id",
        "event_type", "view", "purchase"),
      Some(abtestSql)),

    Q("ev_cohort_ltv",
      "Cohort LTV triangle: users cohorted by first-activity week; per " +
        "(cohort, week offset) the active users, cell revenue, " +
        "cohort-cumulative revenue and LTV (cumulative / cohort size). " +
        "Revenue stays DECIMAL(28,8)-exact through the cumulative " +
        "window (which runs on the weeks^2-bounded cell relation); one " +
        "user-keyed exchange is the only data-sized work — the same " +
        "exchange ev_retention pays.",
      (s, d) => EventOps.cohortLtv(Tables.events(s, d), "user_id", "ts",
        "value"),
      Some("""WITH ev AS (
             |  SELECT user_id,
             |    epoch_us(CAST(date_trunc('week', ts) AS TIMESTAMP)) AS wk,
             |    CAST(value AS DECIMAL(28,8)) AS v
             |  FROM events WHERE user_id IS NOT NULL),
             |f AS (SELECT user_id, min(wk) AS cohort FROM ev
             |      GROUP BY user_id),
             |cells AS (
             |  SELECT cohort,
             |    (wk - cohort) // 604800000000 AS week_offset,
             |    CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active,
             |    coalesce(sum(v), CAST(0 AS DECIMAL(28,8))) AS rev
             |  FROM ev e JOIN f USING (user_id)
             |  GROUP BY 1, 2),
             |c2 AS (
             |  SELECT cohort, week_offset, n_active, rev,
             |    sum(rev) OVER (PARTITION BY cohort ORDER BY week_offset)
             |      AS cum,
             |    max(CASE WHEN week_offset = 0 THEN n_active END)
             |      OVER (PARTITION BY cohort) AS sz
             |  FROM cells)
             |SELECT strftime(make_timestamp(cohort), '%Y-%m-%d')
             |    AS cohort_week,
             |  week_offset, n_active,
             |  CAST(rev AS DOUBLE) AS revenue,
             |  CAST(cum AS DOUBLE) AS cum_revenue,
             |  CAST(cum AS DOUBLE) / CAST(sz AS DOUBLE) AS ltv
             |FROM c2 ORDER BY cohort_week, week_offset""".stripMargin)),

    Q("ev_abtest_value",
      "A/B readout for a CONTINUOUS metric: purchase revenue per " +
        "exposed user (intent-to-treat — non-converters count at 0), " +
        "per-variant mean/variance and the Welch t statistic. Per-user " +
        "totals and both variant sums stage in exact decimals (rev^2 " +
        "squared at DECIMAL(18,8) so the (37,16) product stays under " +
        "both engines' 38-digit cap); the mean/var/t tail is a FIXED " +
        "double chain replayed literally. One user-keyed aggregate, " +
        "then a 2-cell relation.",
      (s, d) => EventOps.abTestValue(Tables.events(s, d), "user_id",
        "event_type", "view", "purchase", "value"),
      Some("""WITH uu AS (
             |  SELECT user_id,
             |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      AS expo,
             |    coalesce(sum(CASE WHEN event_type = 'purchase'
             |      THEN CAST(value AS DECIMAL(28,8)) END),
             |      CAST(0 AS DECIMAL(28,8))) AS rev
             |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
             |e AS (SELECT user_id % 2 = 0 AS va, rev FROM uu
             |      WHERE expo = 1),
             |c AS (
             |  SELECT va, CAST(count(*) AS BIGINT) AS n, sum(rev) AS s,
             |    sum(CAST(rev AS DECIMAL(19,8)) *
             |        CAST(rev AS DECIMAL(18,8))) AS q
             |  FROM e GROUP BY va),
             |f AS (
             |  SELECT
             |    CAST(coalesce(max(CASE WHEN va THEN n END), 0)
             |      AS BIGINT) AS n_a,
             |    coalesce(max(CASE WHEN va THEN
             |      CAST(CAST(s AS VARCHAR) AS DOUBLE) END), 0e0) AS s_a,
             |    coalesce(max(CASE WHEN va THEN
             |      CAST(CAST(q AS VARCHAR) AS DOUBLE) END), 0e0) AS q_a,
             |    CAST(coalesce(max(CASE WHEN NOT va THEN n END), 0)
             |      AS BIGINT) AS n_b,
             |    coalesce(max(CASE WHEN NOT va THEN
             |      CAST(CAST(s AS VARCHAR) AS DOUBLE) END), 0e0) AS s_b,
             |    coalesce(max(CASE WHEN NOT va THEN
             |      CAST(CAST(q AS VARCHAR) AS DOUBLE) END), 0e0) AS q_b
             |  FROM c)
             |SELECT n_a, n_b,
             |  s_a / CAST(n_a AS DOUBLE) AS mean_a,
             |  s_b / CAST(n_b AS DOUBLE) AS mean_b,
             |  (q_a - s_a * s_a / CAST(n_a AS DOUBLE)) /
             |    (CAST(n_a AS DOUBLE) - 1e0) AS var_a,
             |  (q_b - s_b * s_b / CAST(n_b AS DOUBLE)) /
             |    (CAST(n_b AS DOUBLE) - 1e0) AS var_b,
             |  CASE WHEN n_a > 1 AND n_b > 1 THEN
             |    (s_a / CAST(n_a AS DOUBLE) - s_b / CAST(n_b AS DOUBLE)) /
             |    sqrt((q_a - s_a * s_a / CAST(n_a AS DOUBLE)) /
             |      (CAST(n_a AS DOUBLE) - 1e0) / CAST(n_a AS DOUBLE) +
             |      (q_b - s_b * s_b / CAST(n_b AS DOUBLE)) /
             |      (CAST(n_b AS DOUBLE) - 1e0) / CAST(n_b AS DOUBLE))
             |  ELSE 0e0 END AS t_stat
             |FROM f""".stripMargin)),

    Q("ev_stickiness",
      "DAU/MAU stickiness per day - the engagement-intensity board: of " +
        "the users active in the trailing 28 days, what fraction showed " +
        "up today. Both counts come from ONE rollingActiveUsers pass " +
        "(the two windows share the deduped (user, day) relation and " +
        "its coverage expansion); zero-activity days inside the MAU " +
        "window report dau = 0. The ratio is the only double - one " +
        "division of two exact longs per day.",
      (s, d) => EventOps.stickiness(Tables.events(s, d),
        "user_id", "ts", mauWindow = 28),
      Some("""WITH daily AS (
             |  SELECT DISTINCT user_id AS u, ts::DATE AS day FROM events),
             |b AS (SELECT max(day) AS d1 FROM daily),
             |ks AS (SELECT cast(k AS INTEGER) AS k
             |       FROM generate_series(0, 27) g(k)),
             |mau AS (
             |  SELECT cover, count(*) AS mau FROM (
             |    SELECT DISTINCT daily.u, daily.day + ks.k AS cover
             |    FROM daily, ks) cov, b
             |  WHERE cover <= d1 GROUP BY cover),
             |dau AS (SELECT day, count(*) AS dau FROM daily GROUP BY day)
             |SELECT strftime(m.cover, '%Y-%m-%d') AS day,
             |  COALESCE(da.dau, 0) AS dau, m.mau,
             |  CAST(COALESCE(da.dau, 0) AS DOUBLE) / CAST(m.mau AS DOUBLE)
             |    AS stickiness
             |FROM mau m LEFT JOIN dau da ON da.day = m.cover
             |ORDER BY day""".stripMargin)),

    Q("ev_interarrival",
      "Exact inter-arrival-gap percentiles per event type (p50/p90/p99 " +
        "of consecutive same-user gaps in event-time micros) - the " +
        "'how often do users purchase' latency profile. Gaps are one " +
        "user-keyed window lag (ties broken by event_id - " +
        "deterministic lag sequence cross-engine), long subtraction; " +
        "the percentiles are dq_quantiles_by's histogram-guided " +
        "selection - three scans for all keys x quantiles, no global " +
        "sort.",
      (s, d) => Profile.quantilesByKey(
        EventOps.interarrivalGaps(Tables.events(s, d),
          "user_id", "ts", "event_type", "event_id"),
        "event_type", "gap_us", Seq(0.5, 0.9, 0.99), bins = 256),
      Some(s"""WITH g AS (
              |  SELECT event_type AS k,
              |    CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
              |      PARTITION BY event_type, user_id
              |      ORDER BY ts, event_id) AS DOUBLE) AS v
              |  FROM events),
              |v AS (SELECT k, v FROM g
              |      WHERE k IS NOT NULL AND v IS NOT NULL),
              |st AS (
              |  SELECT k, count(*) AS n, min(v) AS lo, max(v) AS hi
              |  FROM v GROUP BY k),
              |qs(q) AS (VALUES (0.5::DOUBLE), (0.9::DOUBLE),
              |                 (0.99::DOUBLE)),
              |r AS (
              |  SELECT k, v,
              |    row_number() OVER (PARTITION BY k ORDER BY v) AS rn
              |  FROM v),
              |ex AS (
              |  SELECT st.k, qs.q, st.lo, st.hi,
              |    (SELECT r.v FROM r WHERE r.k = st.k
              |     AND rn = greatest(CAST(ceil(qs.q * st.n) AS BIGINT), 1))
              |      AS quantile
              |  FROM st, qs)
              |${quantileTail(256)}""".stripMargin)),

    Q("ev_seasonality",
      "Day-of-week seasonality per event type: volume and within-type " +
        "share for each weekday (0 = Sunday) - the weekly-cycle " +
        "readout ev_anomaly's flat EWMA baseline misses. One map-side " +
        "combined (dow, type) aggregate (<= 7*|types| rows) + a " +
        "broadcast totals join; the share is one division of two " +
        "exact longs per cell.",
      (s, d) => EventOps.seasonality(Tables.events(s, d),
        "ts", "event_type"),
      Some("""WITH c AS (
             |  SELECT dayofweek(ts) AS dow, event_type, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
             |      FROM c GROUP BY 1)
             |SELECT c.dow, c.event_type, c.n,
             |  CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS share
             |FROM c JOIN t USING (event_type)
             |ORDER BY c.dow, c.event_type""".stripMargin)),

    Q("ev_features",
      "Per-(user, active day) trailing-window feature matrix - the " +
        "feature-store rows a churn/propensity model trains on: " +
        "today's count, trailing 7d/28d counts, days since previous " +
        "activity. One (user, day) aggregate (the only event-sized " +
        "exchange), then two integer RANGE frames on the epoch-day " +
        "index (RANGE, not ROWS - inactive days must not slide in) " +
        "and one lag over the SAME user-keyed sort. All exact " +
        "integers.",
      (s, d) => EventOps.userFeatures(Tables.events(s, d),
        "user_id", "ts"),
      Some("""WITH daily AS (
             |  SELECT user_id, ts::DATE AS day, count(*) AS n_day
             |  FROM events GROUP BY 1, 2),
             |di AS (
             |  SELECT user_id, day, n_day,
             |    CAST(day - DATE '1970-01-01' AS BIGINT) AS d
             |  FROM daily)
             |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_day,
             |  CAST(sum(n_day) OVER (PARTITION BY user_id ORDER BY d
             |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS n_7d,
             |  CAST(sum(n_day) OVER (PARTITION BY user_id ORDER BY d
             |    RANGE BETWEEN 27 PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS n_28d,
             |  d - lag(d) OVER (PARTITION BY user_id ORDER BY d)
             |    AS days_since_prev
             |FROM di ORDER BY user_id, day""".stripMargin)),

    Q("ev_forecast",
      "Seasonal-naive forecast backtest per event type - the honest " +
        "baseline every volume forecast must beat: daily counts " +
        "gap-filled to the global day grid (a missing day is a real " +
        "zero - without the fill a ROWS-lag silently skips it), each " +
        "of the last 7 days forecast as the count 7 days earlier, MAE " +
        "/ bias / totals reported. Error sums are exact integers; MAE " +
        "and bias are one division each. One (type, day) aggregate + " +
        "a broadcast day grid + one lag window.",
      (s, d) => EventOps.seasonalNaiveBacktest(Tables.events(s, d),
        "ts", "event_type", season = 7, holdout = 7),
      Some("""WITH daily AS (
             |  SELECT event_type, ts::DATE AS day, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
             |grid AS (
             |  SELECT t.event_type,
             |    CAST(unnest(generate_series(b.d0::TIMESTAMP,
             |      b.d1::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS day,
             |    CAST(b.d1 - DATE '1970-01-01' AS BIGINT) AS d1i
             |  FROM (SELECT DISTINCT event_type FROM daily) t, b),
             |full0 AS (
             |  SELECT g.event_type,
             |    CAST(g.day - DATE '1970-01-01' AS BIGINT) AS di,
             |    g.d1i, COALESCE(d.n, 0) AS n
             |  FROM grid g LEFT JOIN daily d
             |    ON d.event_type = g.event_type AND d.day = g.day),
             |fc AS (
             |  SELECT event_type, di, d1i, n,
             |    lag(n, 7) OVER (PARTITION BY event_type ORDER BY di)
             |      AS f
             |  FROM full0)
             |SELECT event_type, count(*) AS n_days,
             |  CAST(sum(n) AS BIGINT) AS total_actual,
             |  CAST(sum(f) AS BIGINT) AS total_forecast,
             |  CAST(sum(abs(n - f)) AS BIGINT) AS abs_err,
             |  CAST(sum(abs(n - f)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             |    AS mae,
             |  CAST(sum(n) - sum(f) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             |    AS bias
             |FROM fc WHERE di > d1i - 7 AND f IS NOT NULL
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("ev_hourly",
      "Hour-of-day profile per event type (UTC) - ev_seasonality's " +
        "intraday companion: volume and within-type share for each of " +
        "the 24 hours. One map-side combined (hour, type) aggregate " +
        "(<= 24*|types| rows) + a broadcast totals join; the share is " +
        "one division of two exact longs.",
      (s, d) => {
        val ev = Tables.events(s, d)
        val cells = ev
          .groupBy(hour(col("ts")).cast("long").as("hod"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
        val totals = cells.groupBy(col("event_type"))
          .agg(sum(col("n")).as("__tot"))
        cells.join(broadcast(totals), Seq("event_type"))
          .select(col("hod"), col("event_type"), col("n"),
            (col("n").cast("double") / col("__tot").cast("double"))
              .as("share"))
          .orderBy(col("hod"), col("event_type"))
      },
      Some("""WITH c AS (
             |  SELECT hour(ts) AS hod, event_type, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
             |      FROM c GROUP BY 1)
             |SELECT CAST(c.hod AS BIGINT) AS hod, c.event_type, c.n,
             |  CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS share
             |FROM c JOIN t USING (event_type)
             |ORDER BY hod, c.event_type""".stripMargin)),

    Q("ev_attribution_first",
      "FIRST-touch attribution - ev_attribution's discovery-credit " +
        "complement (which channel ACQUIRED the user vs which closed): " +
        "the earliest qualifying touch strictly before each conversion " +
        "takes full credit, over the same deterministic (ts, event_id) " +
        "frame and one user exchange; only the window function changes " +
        "(first non-null instead of last).",
      (s, d) => EventOps.firstTouchAttribution(Tables.events(s, d),
        "user_id", "ts", "event_type", "event_id",
        touchTypes = Seq("click", "view", "signup"),
        conversionType = "purchase", valueCol = "value"),
      Some("""WITH attr AS (
             |  SELECT event_type, value,
             |    coalesce(first_value(CASE WHEN event_type IN
             |        ('click', 'view', 'signup') THEN event_type END
             |        IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING
             |              AND 1 PRECEDING),
             |      '(direct)') AS channel
             |  FROM events)
             |SELECT channel, count(*) AS n_conversions,
             |  cast(sum(cast(value AS DECIMAL(28,8))) AS DOUBLE)
             |    AS revenue
             |FROM attr
             |WHERE event_type = 'purchase'
             |GROUP BY channel
             |ORDER BY channel""".stripMargin))
  )
}
