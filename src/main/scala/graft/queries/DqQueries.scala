package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Profile, Skew}
import graft.queries.OracleCompat.{ProfCols, SketchK, driftOracle, kmvOracle, qualitySql}

/** Data quality and profiling (`dq_*`): column profiles and sketches,
  * quantiles, drift, outliers, distribution tests and validation rules.
  */
object DqQueries {

  /** DuckDB replay of [[Profile.driftSketch]]: per column and side, the
    * k smallest distinct 52-bit md5 hashes (ORDER BY h LIMIT k), the KMV
    * estimator on each, and the union-sketch Jaccard — all integer min-k
    * algebra plus double divisions on identical integers, so the compare
    * is a hash match, not a tolerance.
    */
  private def driftSketchOracle: String = {
    val k = SketchK
    val rse = 1.0 / math.sqrt(k - 2.0)
    val ctes = ProfCols.map { c =>
      s"""hr_$c AS (
         |  SELECT DISTINCT ('0x' || substring(md5($c::VARCHAR), 1, 13))::BIGINT AS h
         |  FROM lineitem WHERE l_orderkey % 2 = 0 AND $c IS NOT NULL),
         |hc_$c AS (
         |  SELECT DISTINCT ('0x' || substring(md5($c::VARCHAR), 1, 13))::BIGINT AS h
         |  FROM lineitem WHERE l_orderkey % 2 = 1 AND $c IS NOT NULL),
         |skr_$c AS (SELECT h FROM hr_$c ORDER BY h LIMIT $k),
         |skc_$c AS (SELECT h FROM hc_$c ORDER BY h LIMIT $k),
         |sku_$c AS (
         |  SELECT h FROM (SELECT h FROM skr_$c UNION SELECT h FROM skc_$c)
         |  ORDER BY h LIMIT $k),
         |st_$c AS (
         |  SELECT
         |    (SELECT count(*) FROM skr_$c) AS nr,
         |    (SELECT max(h) FROM skr_$c) AS hr,
         |    (SELECT count(*) FROM skc_$c) AS nc,
         |    (SELECT max(h) FROM skc_$c) AS hc,
         |    (SELECT count(*) FROM sku_$c) AS nu,
         |    (SELECT count(*) FROM sku_$c u
         |     WHERE u.h IN (SELECT h FROM skr_$c)
         |       AND u.h IN (SELECT h FROM skc_$c)) AS nboth)""".stripMargin
    }.mkString(",\n")
    val estR = s"CASE WHEN nr < $k THEN nr::DOUBLE ELSE ${(k - 1).toDouble} / (hr / 4503599627370496.0) END"
    val estC = s"CASE WHEN nc < $k THEN nc::DOUBLE ELSE ${(k - 1).toDouble} / (hc / 4503599627370496.0) END"
    val rows = ProfCols.map { c =>
      s"""SELECT '$c' AS col_name,
         |  $estR AS ref_distinct_est,
         |  $estC AS cur_distinct_est,
         |  nr < $k AS ref_est_is_exact,
         |  nc < $k AS cur_est_is_exact,
         |  CASE WHEN ($estR) > 0 THEN ($estC) / ($estR) END AS card_ratio,
         |  CASE WHEN nu > 0 THEN nboth::DOUBLE / nu::DOUBLE END AS jaccard_est,
         |  $rse AS est_rse
         |FROM st_$c""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $ctes\n$rows\nORDER BY col_name"
  }

  val all: Seq[Q] = Seq(

    Q("dq_profile",
      "Data profiling in ONE pass: every column's non-null count, " +
        "distinct count and min/max from a single aggregation (multi-" +
        "countDistinct plans through Expand), exploded to a per-column " +
        "report — the before/after quality gate of a curation pipeline. " +
        "Never N per-column scans.",
      (s, d) => graft.ops.Profile.table(Tables.lineitem(s, d),
          Seq("l_orderkey", "l_partkey", "l_linenumber",
            "l_returnflag", "l_linestatus"))
        .orderBy("col_name"),
      Some(Seq("l_orderkey", "l_partkey", "l_linenumber",
          "l_returnflag", "l_linestatus")
        .map(c =>
          s"""SELECT '$c' AS col_name, count($c) AS n_nonnull,
             |  count(DISTINCT $c) AS n_distinct,
             |  min($c)::VARCHAR AS min_s, max($c)::VARCHAR AS max_s,
             |  count(*) AS n_rows FROM lineitem""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))),

    Q("dq_expect",
      "Constraint-expectation gate (the dbt-test shape): four row-level " +
        "rules over lineitem evaluated as ONE conditional-aggregation " +
        "pass — sum(CASE WHEN NOT rule) per rule on a single scan, " +
        "never a scan per rule; NULL predicate results count as " +
        "violations. The report is data: callers gate on n_violations.",
      (s, d) => graft.ops.Profile.expect(Tables.lineitem(s, d), Seq(
          "quantity_positive" -> (col("l_quantity") > 0),
          "quantity_under_30" -> (col("l_quantity") < 30),
          "returnflag_domain" -> col("l_returnflag").isin("A", "N", "R"),
          "discount_range" -> (col("l_discount") >= 0 && col("l_discount") <= 0.05)))
        .orderBy("rule"),
      Some("""SELECT rule, n_violations, n_rows FROM (
             |  SELECT 'quantity_positive' AS rule,
             |    coalesce(CAST(sum(CASE WHEN coalesce(l_quantity > 0, false)
             |        THEN 0 ELSE 1 END) AS BIGINT), 0) AS n_violations,
             |    count(*) AS n_rows FROM lineitem
             |  UNION ALL
             |  SELECT 'quantity_under_30',
             |    coalesce(CAST(sum(CASE WHEN coalesce(l_quantity < 30, false)
             |        THEN 0 ELSE 1 END) AS BIGINT), 0), count(*) FROM lineitem
             |  UNION ALL
             |  SELECT 'returnflag_domain',
             |    coalesce(CAST(sum(CASE WHEN coalesce(l_returnflag IN ('A','N','R'), false)
             |        THEN 0 ELSE 1 END) AS BIGINT), 0), count(*) FROM lineitem
             |  UNION ALL
             |  SELECT 'discount_range',
             |    coalesce(CAST(sum(CASE WHEN coalesce(l_discount >= 0 AND l_discount <= 0.05,
             |        false) THEN 0 ELSE 1 END) AS BIGINT), 0), count(*) FROM lineitem)
             |ORDER BY rule""".stripMargin)),

    Q("dq_drift",
      "Distribution-drift gate: histogram the quality score of a " +
        "reference snapshot (even doc ids) and a current snapshot (odd " +
        "ids) over 16 shared buckets and report each bucket's " +
        "two-sample chi-square contribution (cur-e)^2/e, e = reference " +
        "count scaled to the current total — the pre-filter check that " +
        "catches a silently shifted crawl before a tuned filter over- " +
        "or under-cuts it. Log-free by design (PSI/KL would drag libm " +
        "ln into the gate); one conditional-aggregation pass, never a " +
        "join between snapshots; per-bucket attribution kept so WHICH " +
        "band drifted stays visible; novel mass (ref 0) reports NULL.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val q = graft.ops.TextAnalysis.qualityScore(col("text"))
        graft.ops.Profile.drift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), q, buckets = 16)
      },
      Some(driftOracle)),

    Q("dq_drift_lang",
      "Categorical drift gate: the chi-square mix-shift check over the " +
        "LANGUAGE column between the even-id (reference) and odd-id " +
        "(current) snapshot halves — 'did this crawl's language " +
        "distribution move?' is the first question a mixture-targeted " +
        "pipeline asks before trusting last month's sampling rates. " +
        "Same log-free per-group chi-square as dq_drift, grouped by " +
        "the key's values; one conditional-aggregation pass, never a " +
        "join between snapshots.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.ops.Profile.driftByKey(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), col("lang"))
      },
      Some("""WITH t AS (
             |  SELECT lang AS key, doc_id % 2 AS half FROM documents),
             |h AS (
             |  SELECT key,
             |    cast(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
             |    cast(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
             |  FROM t GROUP BY key),
             |tot AS (
             |  SELECT cast(sum(ref_n) AS BIGINT) AS nr,
             |         cast(sum(cur_n) AS BIGINT) AS nc FROM h)
             |SELECT key, ref_n, cur_n,
             |  CASE WHEN ref_n > 0 THEN
             |    (cast(cur_n AS DOUBLE) -
             |      cast(ref_n AS DOUBLE) * (cast(nc AS DOUBLE) / cast(nr AS DOUBLE))) *
             |    (cast(cur_n AS DOUBLE) -
             |      cast(ref_n AS DOUBLE) * (cast(nc AS DOUBLE) / cast(nr AS DOUBLE))) /
             |    (cast(ref_n AS DOUBLE) * (cast(nc AS DOUBLE) / cast(nr AS DOUBLE)))
             |  ELSE NULL END AS chi2_contrib
             |FROM h, tot
             |ORDER BY key NULLS LAST""".stripMargin)),

    Q("dq_outliers",
      "Per-group z-score outlier gate over event values: one " +
        "aggregation pass collects each type's (n, sum, sum-of-squares) " +
        "through exact decimals, the 5-row stats broadcast back, and " +
        "rows flag when |v - mean| > 3 sigma — the anomaly gate a " +
        "pipeline trips before accepting a batch. Mean and sigma derive " +
        "from exact sums so the flags are bit-identical cross-engine; " +
        "one narrow agg + one broadcast join, nothing crosses an " +
        "exchange twice.",
      (s, d) => Profile.outlierGate(Tables.events(s, d),
        "event_type", "value", z = 3.0),
      Some("""WITH st AS (
             |  SELECT event_type, count(*) AS n,
             |    cast(sum(cast(value AS DECIMAL(28,8))) AS DOUBLE) AS s,
             |    cast(sum(cast(value * value AS DECIMAL(28,8))) AS DOUBLE)
             |      AS s2
             |  FROM events GROUP BY 1),
             |m AS (
             |  SELECT event_type, n, s / n AS mean,
             |    sqrt(greatest(s2 / n - (s / n) * (s / n), 0.0)) AS std
             |  FROM st)
             |SELECT e.event_type, m.n, m.mean, m.std,
             |  cast(sum(CASE WHEN abs(e.value - m.mean) > 3.0 * m.std
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             |  cast(sum(CASE WHEN abs(e.value - m.mean) > 3.0 * m.std
             |    THEN 1 ELSE 0 END) AS DOUBLE) / m.n AS outlier_frac
             |FROM events e JOIN m USING (event_type)
             |GROUP BY e.event_type, m.n, m.mean, m.std
             |ORDER BY e.event_type""".stripMargin)),

    Q("dq_quantiles",
      "Exact quantiles WITHOUT a global sort: one min/max pass, one " +
        "mergeable 256-bin histogram pass (<=256 rows cross the " +
        "exchange), then the cumulative histogram locates each order " +
        "statistic's bin and a TakeOrdered over just that bin's ~n/256 " +
        "rows reads the exact value. The est column is the sketch-only " +
        "answer (bin lower edge) and within_bin pins |exact-est| to " +
        "one bin width — the oracle recomputes est from the same " +
        "arithmetic, so the sketch geometry itself is hash-checked.",
      (s, d) => Profile.quantilesExact(Tables.events(s, d), "value",
        Seq(0.5, 0.9, 0.99), bins = 256),
      Some("""WITH v AS (
             |  SELECT value::DOUBLE AS v FROM events WHERE value IS NOT NULL),
             |st AS (SELECT count(*) AS n, min(v) AS lo, max(v) AS hi FROM v),
             |qs(q) AS (VALUES (0.5::DOUBLE), (0.9::DOUBLE), (0.99::DOUBLE)),
             |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
             |ex AS (
             |  SELECT q,
             |    (SELECT r.v FROM r, st
             |     WHERE rn = greatest(CAST(ceil(q * st.n) AS BIGINT), 1))
             |      AS quantile
             |  FROM qs)
             |SELECT e.q, e.quantile,
             |  CASE WHEN st.hi = st.lo THEN st.lo
             |       ELSE st.lo +
             |         least(floor((e.quantile - st.lo) /
             |                     ((st.hi - st.lo) / 256.0)), 255) *
             |         ((st.hi - st.lo) / 256.0) END AS est,
             |  abs(e.quantile -
             |    (CASE WHEN st.hi = st.lo THEN st.lo
             |          ELSE st.lo +
             |            least(floor((e.quantile - st.lo) /
             |                        ((st.hi - st.lo) / 256.0)), 255) *
             |            ((st.hi - st.lo) / 256.0) END))
             |    <= (CASE WHEN st.hi = st.lo THEN 0.0
             |             ELSE (st.hi - st.lo) / 256.0 END) AS within_bin
             |FROM ex e, st
             |ORDER BY e.q""".stripMargin)),

    Q("dq_corr",
      "Pairwise Pearson correlation matrix over lineitem's four " +
        "numeric measures in ONE scan — the feature-redundancy " +
        "profile run before trusting a scorer: per-column sum/sum-sq " +
        "and per-pair sum-of-products all share a single aggregation " +
        "pass with inputs quantized ONCE to DECIMAL(18,6) (exact for " +
        "2-decimal measures) and every product/sum after that pure " +
        "decimal arithmetic — exact and order-independent in both " +
        "engines — then the 1-row moment vector expands to C(4,2) " +
        "pair rows driver-free. " +
        "Complete-case contract (rows with any NULL drop first); " +
        "zero-variance guard decided on the same derived doubles in " +
        "both engines.",
      (s, d) => Profile.correlations(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val pairs = for {
          i <- cols.indices; j <- cols.indices if i < j
        } yield (cols(i), cols(j))
        def q(c: String) = s"cast(round($c * 100) AS BIGINT)"
        def dsum(e: String) = s"cast(sum(cast($e AS DECIMAL(38,0))) AS DOUBLE)"
        val moments =
          cols.flatMap(c => Seq(s"${dsum(q(c))} AS s_$c",
            s"${dsum(s"${q(c)} * ${q(c)}")} AS ss_$c")) ++
          pairs.map { case (a, b) =>
            s"${dsum(s"${q(a)} * ${q(b)}")} AS sp_${a}__$b" }
        def variance(c: String) =
          s"(ss_$c / nd - (s_$c / nd) * (s_$c / nd))"
        val rows = pairs.map { case (a, b) =>
          s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
             |  CASE WHEN ${variance(a)} > 0 AND ${variance(b)} > 0
             |    THEN (sp_${a}__$b / nd - (s_$a / nd) * (s_$b / nd)) /
             |         (sqrt(${variance(a)}) * sqrt(${variance(b)}))
             |    ELSE NULL END AS corr
             |FROM m""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH m AS (
           |  SELECT count(*) AS n, cast(count(*) AS DOUBLE) AS nd,
           |    ${moments.mkString(",\n    ")}
           |  FROM lineitem
           |  WHERE ${cols.map(c => s"$c IS NOT NULL").mkString(" AND ")})
           |$rows
           |ORDER BY col_a, col_b""".stripMargin
      }),

    Q("dq_quantiles_by",
      "Grouped exact quantiles — dq_quantiles per event type, with no " +
        "per-key scans: one stats pass, one per-key-geometry histogram " +
        "pass (keys x bins tiny rows), driver bin location, then ONE " +
        "residual pass ranks only the targeted (key, bin) cells via a " +
        "broadcast-semi-join + bounded window. Three scans for any " +
        "number of keys x quantiles; est/within_bin hash-check the " +
        "per-key sketch geometry like the global gate.",
      (s, d) => Profile.quantilesByKey(Tables.events(s, d),
        "event_type", "value", Seq(0.5, 0.9, 0.99), bins = 256),
      Some("""WITH v AS (
             |  SELECT event_type AS k, value::DOUBLE AS v FROM events
             |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |st AS (
             |  SELECT k, count(*) AS n, min(v) AS lo, max(v) AS hi
             |  FROM v GROUP BY k),
             |qs(q) AS (VALUES (0.5::DOUBLE), (0.9::DOUBLE), (0.99::DOUBLE)),
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
             |SELECT k AS key, q, quantile,
             |  CASE WHEN hi = lo THEN lo
             |       ELSE lo + least(floor((quantile - lo) /
             |                             ((hi - lo) / 256.0)), 255) *
             |            ((hi - lo) / 256.0) END AS est,
             |  abs(quantile -
             |    (CASE WHEN hi = lo THEN lo
             |          ELSE lo + least(floor((quantile - lo) /
             |                                ((hi - lo) / 256.0)), 255) *
             |               ((hi - lo) / 256.0) END))
             |    <= (CASE WHEN hi = lo THEN 0.0
             |             ELSE (hi - lo) / 256.0 END) AS within_bin
             |FROM ex
             |ORDER BY key, q""".stripMargin)),

    Q("dq_winsorize",
      "Winsorization report per event type — outlier treatment by " +
        "CLIPPING where dq_outliers flags: values clip to their " +
        "type's [p05, p95] band (boundaries from one exact percentile " +
        "aggregate broadcast back — the RFM no-global-sort pattern), " +
        "reporting clip counts and the mean before/after through " +
        "exact decimal sums — 'how much did the tail move my mean' " +
        "before a feature pipeline ships the clipped column.",
      (s, d) => Profile.winsorize(Tables.events(s, d),
        "event_type", "value", pLo = 0.05, pHi = 0.95),
      Some("""WITH th AS (
             |  SELECT event_type,
             |    quantile_cont(value, [0.05, 0.95]) AS t
             |  FROM events GROUP BY 1)
             |SELECT e.event_type, count(*) AS n,
             |  CAST(coalesce(sum(CASE WHEN value < t[1] THEN 1
             |    ELSE 0 END), 0) AS BIGINT) AS n_clipped_lo,
             |  CAST(coalesce(sum(CASE WHEN value > t[2] THEN 1
             |    ELSE 0 END), 0) AS BIGINT) AS n_clipped_hi,
             |  cast(sum(cast(value AS DECIMAL(28,8))) AS DOUBLE)
             |    / count(*) AS mean_before,
             |  cast(sum(cast(least(greatest(value, t[1]), t[2])
             |    AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS mean_after
             |FROM events e JOIN th USING (event_type)
             |GROUP BY 1
             |ORDER BY 1""".stripMargin)),

    Q("dq_kanon",
      "k-anonymity audit over quasi-identifiers (Sweeney 2002) — the " +
        "privacy gate a training-data release runs next to PII " +
        "redaction: every (lang, source, length-bucket) equivalence " +
        "class with fewer than k=5 members is a re-identification " +
        "risk (its documents are distinguishable by quasi-identifiers " +
        "alone). One partial-aggregated groupBy on the class key — " +
        "the report is class-sized, never document-sized.",
      (s, d) => Tables.documents(s, d)
        .groupBy(col("lang"), col("source"),
          floor(col("n_chars") / lit(100)).cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") < 5)
        .orderBy("lang", "source", "len_bucket"),
      Some("""SELECT lang, source,
             |  CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket,
             |  count(*) AS n_docs
             |FROM documents
             |GROUP BY 1, 2, 3
             |HAVING count(*) < 5
             |ORDER BY lang, source, len_bucket""".stripMargin)),

    Q("dq_ks",
      "EXACT two-sample Kolmogorov–Smirnov test (Profile.ksTest) " +
        "between the quality-score distributions of the even- and " +
        "odd-id document halves — the distribution-free drift gate on " +
        "the continuous score itself, complementing dq_drift's binned " +
        "chi-square: D = max |F_even − F_odd| over every distinct " +
        "score, plus the smallest score achieving it and the " +
        "scale-free sqrt(nm/(n+m))·D. NO global sort: distinct scores " +
        "group with per-side counts, a 256-bin histogram's collected " +
        "totals give exclusive prefix offsets, and one window pass " +
        "PARTITIONED BY BIN adds in-bin running counts — the " +
        "dq_quantiles two-level discipline, so the only " +
        "single-partition work is 256 rows. The oracle computes the " +
        "same ECDFs with one flat window.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        def half(m: Int) = docs.filter(col("doc_id") % 2 === m)
          .select(graft.ops.TextAnalysis.qualityScore(col("text"))
            .as("score"))
        Profile.ksTest(half(0), half(1), "score")
      },
      Some(s"""WITH u AS (
              |  SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS ga,
              |    ${qualitySql("text")} AS v
              |  FROM documents),
              |g AS (
              |  SELECT v, sum(ga) AS ca, sum(1 - ga) AS cb
              |  FROM u GROUP BY v),
              |n AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
              |             CAST(sum(cb) AS BIGINT) AS nb FROM g),
              |c AS (
              |  SELECT v, sum(ca) OVER (ORDER BY v) AS cua,
              |         sum(cb) OVER (ORDER BY v) AS cub
              |  FROM g),
              |dd AS (
              |  SELECT v, abs(CAST(cua AS DOUBLE) / na -
              |                CAST(cub AS DOUBLE) / nb) AS diff
              |  FROM c, n),
              |m AS (SELECT max(diff) AS d_stat FROM dd)
              |SELECT n.na AS n_a, n.nb AS n_b, m.d_stat,
              |  (SELECT min(v) FROM dd, m WHERE dd.diff = m.d_stat) AS d_at,
              |  sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) /
              |       (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))) * m.d_stat
              |    AS ks_scaled
              |FROM n, m""".stripMargin)),

    Q("dq_skew",
      "Join-key skew diagnosis (Skew.skewReport) on lineitem's " +
        "l_returnflag — the 3-hot-key column q19_salted_join mitigates: " +
        "top keys by row count with their table share and the exact " +
        "integer salt factor ((n_key + avgLoad − 1) div avgLoad, " +
        "avgLoad = ceil(N/32)) that levels each key to average " +
        "shuffle-partition load — 1 means AQE handles it, ≥2 is the " +
        "saltBuckets floor to hand saltedJoin. ONE map-side-combined " +
        "count aggregate + TakeOrdered(k): the diagnosis never costs " +
        "more than the join's own aggregation, and nothing " +
        "key-space-sized reaches the driver.",
      (s, d) => Skew.skewReport(Tables.lineitem(s, d), "l_returnflag",
        topK = 10, partitions = 32),
      Some("""WITH c AS (
             |  SELECT l_returnflag AS key, count(*) AS n_rows
             |  FROM lineitem GROUP BY 1),
             |n AS (SELECT CAST(sum(n_rows) AS BIGINT) AS nn FROM c),
             |a AS (SELECT (nn + 31) // 32 AS avg_load FROM n)
             |SELECT key, n_rows,
             |  CAST(n_rows AS DOUBLE) / nn AS share,
             |  (n_rows + avg_load - 1) // avg_load AS salt_factor
             |FROM c, n, a
             |ORDER BY n_rows DESC, key
             |LIMIT 10""".stripMargin)),

    Q("dq_benford",
      "Benford first-digit conformance on order prices — the " +
        "fabricated-data / unit-mixup tripwire for naturally-spanning " +
        "amounts: observed first-digit counts vs p(d) = log10(1+1/d) " +
        "with the chi-square statistic. Values quantize to integer " +
        "cents (one IEEE multiply + floor, identical in both " +
        "engines), the digit is the integer's first decimal character " +
        "(never a runtime log), expected probabilities are driver-" +
        "computed literals, and the 9-term chi-square folds in digit " +
        "order. One scan + a <= 9-group map-side count; everything " +
        "else runs on the 9-row digit relation.",
      (s, d) => graft.ops.Profile.benford(Tables.lineitem(s, d),
        "l_extendedprice"),
      Some {
        // exponent form: DuckDB parses E-notation literals DIRECTLY as
        // DOUBLE (correctly-rounded strtod, matching Java's round-trip
        // repr); a plain decimal would stage through DECIMAL and
        // double-round — off by 1 ulp on boundary values like log10(4/3)
        val dimRows = (1 to 9).map { dd =>
          s"($dd, ${math.log10(1.0 + 1.0 / dd)}e0)"
        }.mkString(", ")
        s"""WITH dim(first_digit, p_expected) AS (VALUES $dimRows),
           |c AS (
           |  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100.0)
           |    AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS first_digit
           |  FROM lineitem
           |  WHERE floor(l_extendedprice * 100.0) >= 1),
           |counts AS (
           |  SELECT first_digit, CAST(count(*) AS BIGINT) AS n_obs
           |  FROM c GROUP BY 1),
           |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM counts),
           |base AS (
           |  SELECT d.first_digit, d.p_expected,
           |    coalesce(n_obs, 0) AS n_obs,
           |    CAST(n AS DOUBLE) * d.p_expected AS n_expected,
           |    (CAST(coalesce(n_obs, 0) AS DOUBLE) -
           |       CAST(n AS DOUBLE) * d.p_expected) *
           |    (CAST(coalesce(n_obs, 0) AS DOUBLE) -
           |       CAST(n AS DOUBLE) * d.p_expected) /
           |    (CAST(n AS DOUBLE) * d.p_expected) AS chi2_term
           |  FROM dim d LEFT JOIN counts USING (first_digit), tot),
           |chi AS (SELECT list_reduce(list(chi2_term ORDER BY first_digit),
           |          (a, b) -> a + b) AS chi2 FROM base)
           |SELECT first_digit, n_obs, p_expected, n_expected, chi2_term,
           |  chi2
           |FROM base, chi ORDER BY first_digit""".stripMargin
      }),

    Q("dq_integrity",
      "Referential-integrity report across five FK edges of the " +
        "warehouse (lineitem->orders/part/supplier, orders->customer, " +
        "customer->nation): per edge the child row count, NULL-key " +
        "count, orphan count (non-null keys with no parent) and " +
        "orphan fraction — the cross-TABLE complement to dq_expect's " +
        "row rules. One anti-join-shaped aggregate per edge (LEFT " +
        "JOIN distinct parent keys + conditional sums in a single " +
        "pass); Catalyst broadcasts the dimension parents.",
      (s, d) => graft.ops.Profile.referentialIntegrity(Seq(
        ("customer_nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey"),
        ("lineitem_orders", Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey"),
        ("lineitem_part", Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey"),
        ("lineitem_supplier", Tables.lineitem(s, d), "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"),
        ("orders_customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"))),
      Some {
        def edge(name: String, child: String, ck: String, parent: String,
                 pk: String) =
          s"""SELECT '$name' AS fk, n_rows, n_nulls, n_orphans,
             |  CAST(n_orphans AS DOUBLE) / CAST(n_rows AS DOUBLE)
             |    AS orphan_frac
             |FROM (
             |  SELECT count(*) AS n_rows,
             |    CAST(coalesce(sum(CASE WHEN c.$ck IS NULL
             |      THEN 1 END), 0) AS BIGINT) AS n_nulls,
             |    CAST(coalesce(sum(CASE WHEN c.$ck IS NOT NULL
             |      AND p.$pk IS NULL THEN 1 END), 0) AS BIGINT)
             |      AS n_orphans
             |  FROM $child c LEFT JOIN
             |    (SELECT DISTINCT $pk FROM $parent) p
             |    ON c.$ck = p.$pk)""".stripMargin
        Seq(
          edge("customer_nation", "customer", "c_nationkey",
            "nation", "n_nationkey"),
          edge("lineitem_orders", "lineitem", "l_orderkey",
            "orders", "o_orderkey"),
          edge("lineitem_part", "lineitem", "l_partkey",
            "part", "p_partkey"),
          edge("lineitem_supplier", "lineitem", "l_suppkey",
            "supplier", "s_suppkey"),
          edge("orders_customer", "orders", "o_custkey",
            "customer", "c_custkey"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY fk")
      }),

    Q("dq_checksum",
      "Order-invariant table fingerprint of lineitem's exact-typed " +
        "columns: row count + sum/xor/max digests of a 60-bit " +
        "md5-derived row hash. Sum, xor, and max are all commutative- " +
        "associative, so partitioning, partition order, and AQE " +
        "re-plans can never change the answer — the 'did the rewrite " +
        "preserve the data' audit that at 100 TB must not sort. ONE " +
        "scan, one 4-cell map-side-combined aggregate. Doubles are " +
        "excluded by contract (engine-specific shortest-repr " +
        "formatting); the date pre-formats to yyyy-MM-dd.",
      (s, d) => Profile.tableChecksum(
        Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("l_returnflag"), col("l_linestatus"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day")),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus", "ship_day")),
      Some("""WITH h AS (
             |  SELECT CAST(('0x' || substring(md5(
             |    CAST(l_orderkey AS VARCHAR) || chr(1) ||
             |    CAST(l_partkey AS VARCHAR) || chr(1) ||
             |    CAST(l_suppkey AS VARCHAR) || chr(1) ||
             |    CAST(l_linenumber AS VARCHAR) || chr(1) ||
             |    l_returnflag || chr(1) || l_linestatus || chr(1) ||
             |    strftime(l_shipdate, '%Y-%m-%d')), 1, 15)) AS BIGINT)
             |    AS hh
             |  FROM lineitem)
             |SELECT count(*) AS n_rows,
             |  CAST(CAST(sum(hh) AS DECIMAL(38,0)) AS VARCHAR)
             |    AS checksum_sum,
             |  bit_xor(hh) AS checksum_xor,
             |  max(hh) AS checksum_max
             |FROM h""".stripMargin)),

    Q("dq_checksum_by",
      "Per-slice table fingerprint (reconciliation drill-down): the " +
        "same sum/xor/max row-hash digests as dq_checksum, grouped by " +
        "ship month — when two table versions' global fingerprints " +
        "disagree, one scan locates WHICH slice diverged. The key " +
        "groups but does not enter the row hash, so slice fingerprints " +
        "compare across physical layouts; digests are commutative-" +
        "associative (order/partitioning-invariant by algebra).",
      (s, d) => Profile.tableChecksumByKey(
        Tables.lineitem(s, d).select(
          date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
          col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("l_returnflag"), col("l_linestatus"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day")),
        Some("ship_month"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus", "ship_day")),
      Some("""WITH h AS (
             |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
             |    CAST(('0x' || substring(md5(
             |    CAST(l_orderkey AS VARCHAR) || chr(1) ||
             |    CAST(l_partkey AS VARCHAR) || chr(1) ||
             |    CAST(l_suppkey AS VARCHAR) || chr(1) ||
             |    CAST(l_linenumber AS VARCHAR) || chr(1) ||
             |    l_returnflag || chr(1) || l_linestatus || chr(1) ||
             |    strftime(l_shipdate, '%Y-%m-%d')), 1, 15)) AS BIGINT)
             |    AS hh
             |  FROM lineitem)
             |SELECT ship_month, count(*) AS n_rows,
             |  CAST(CAST(sum(hh) AS DECIMAL(38,0)) AS VARCHAR)
             |    AS checksum_sum,
             |  bit_xor(hh) AS checksum_xor,
             |  max(hh) AS checksum_max
             |FROM h GROUP BY ship_month ORDER BY ship_month""".stripMargin)),

    Q("dq_mad",
      "Robust per-key outlier report: median +- 3*MAD, the gate a " +
        "single wild value cannot move (center and spread are order " +
        "statistics with 50% breakdown, unlike dq_outliers' mean/sigma). " +
        "Two histogram-guided exact-quantile rounds (per-key median, " +
        "then per-key median of |v - median|) - six scans total for any " +
        "key count, never a global sort - then one keyed aggregate " +
        "counts deviations past 3*MAD. Both medians are values at " +
        "positions, |v-med| is one IEEE subtraction per row, the " +
        "threshold one multiply - every cell replays from a rank-based " +
        "oracle.",
      (s, d) => Profile.madOutliers(Tables.lineitem(s, d),
        "l_returnflag", "l_extendedprice", k = 3.0),
      Some("""WITH v AS (
             |  SELECT l_returnflag AS k, l_extendedprice::DOUBLE AS v
             |  FROM lineitem
             |  WHERE l_returnflag IS NOT NULL
             |    AND l_extendedprice IS NOT NULL),
             |med AS (
             |  SELECT k, v AS med FROM (
             |    SELECT k, v,
             |      row_number() OVER (PARTITION BY k ORDER BY v) AS rn,
             |      count(*) OVER (PARTITION BY k) AS n FROM v)
             |  WHERE rn = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)),
             |dev AS (
             |  SELECT v.k, abs(v.v - m.med) AS d, m.med
             |  FROM v JOIN med m ON v.k = m.k),
             |mad AS (
             |  SELECT k, d AS mad FROM (
             |    SELECT k, d,
             |      row_number() OVER (PARTITION BY k ORDER BY d) AS rn,
             |      count(*) OVER (PARTITION BY k) AS n FROM dev)
             |  WHERE rn = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1))
             |SELECT dev.k AS key, count(*) AS n, max(dev.med) AS median,
             |  max(ma.mad) AS mad,
             |  CAST(sum(CASE WHEN dev.d > 3.0 * ma.mad THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_outliers,
             |  max(dev.d) AS max_dev
             |FROM dev JOIN mad ma ON ma.k = dev.k
             |GROUP BY dev.k ORDER BY key""".stripMargin)),

    Q("dq_freshness",
      "Feed freshness per event type - the ingest-health audit read " +
        "before anything downstream trusts a slice: last event time, " +
        "staleness behind the global watermark in exact micros, row " +
        "count, trailing-24h/7d volume relative to that watermark. " +
        "One keyed conditional-sum aggregate + a broadcast 1-row " +
        "global max; everything integer.",
      (s, d) => Profile.freshness(Tables.events(s, d),
        "event_type", "ts"),
      Some("""WITH g AS (SELECT max(epoch_us(ts)) AS gmax FROM events
             |           WHERE ts IS NOT NULL)
             |SELECT event_type AS key, count(*) AS n_rows,
             |  max(epoch_us(ts)) AS last_us,
             |  g.gmax - max(epoch_us(ts)) AS staleness_us,
             |  CAST(sum(CASE WHEN epoch_us(ts) > g.gmax - 86400000000
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_last_1d,
             |  CAST(sum(CASE WHEN epoch_us(ts) > g.gmax - 604800000000
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_last_7d
             |FROM events, g WHERE ts IS NOT NULL
             |GROUP BY event_type, g.gmax
             |ORDER BY key NULLS LAST""".stripMargin)),

    Q("dq_completeness",
      "Completeness by slice - null counts of every audited column " +
        "per source in ONE conditional-aggregation pass (never a scan " +
        "per column), the sliced drill-down of dq_profile's global " +
        "null rates: when the global rate moves, this says WHICH feed " +
        "broke. All exact integers.",
      (s, d) => Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("text").isNull, 1L).otherwise(0L))
            .as("null_text"),
          sum(when(col("lang").isNull, 1L).otherwise(0L))
            .as("null_lang"),
          sum(when(col("n_chars").isNull, 1L).otherwise(0L))
            .as("null_n_chars"))
        .orderBy(col("source")),
      Some("""SELECT source, count(*) AS n_rows,
             |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS null_text,
             |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS null_lang,
             |  CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS null_n_chars
             |FROM documents GROUP BY source
             |ORDER BY source""".stripMargin)),

    Q("dq_profile_sketch",
      "dq_profile's 100 TB shape: distinct counts from a KMV sketch " +
        "(k smallest distinct 52-bit md5 hashes per column, a mergeable " +
        "TypedImperativeAggregate with k*8 bytes of state) instead of " +
        "countDistinct — ONE aggregation of each row per column with no " +
        "Expand, where the exact plan replicates every row once per " +
        "distinct set before the partial aggregate. The estimator " +
        "(k-1)/u_k is deterministic (no RNG: distinct-min is order-" +
        "independent), so the oracle re-derives the identical k-minimum " +
        "hash list with ORDER BY h LIMIT k and replays the arithmetic " +
        "bit-for-bit; columns with < k distinct values report EXACT " +
        "counts (est_is_exact), the two high-cardinality keys exercise " +
        "the estimating path, and est_rse carries the 1/sqrt(k-2) " +
        "expected relative error. Accuracy vs exact countDistinct is " +
        "spec-gated at 4*RSE (ProfileSpec).",
      (s, d) => Profile.tableSketch(Tables.lineitem(s, d), ProfCols,
          k = SketchK)
        .orderBy("col_name"),
      Some(kmvOracle(withMinMax = true))),

    Q("dq_drift_sketch",
      "Cardinality-drift gate in the 100 TB sketch shape: per column, " +
        "KMV distinct estimates for a reference (even l_orderkey) and a " +
        "current (odd) snapshot — ONE Expand-free aggregation per " +
        "snapshot — plus the cur/ref cardinality ratio and a " +
        "distinct-VALUE churn estimate from KMV set algebra (the union " +
        "sketch's k-minima are exact, membership within them is exact, " +
        "so |in both| / |union sketch| estimates Jaccard). The split by " +
        "orderkey parity makes l_orderkey fully churned (jaccard 0) " +
        "while l_partkey and the flag columns are shared (jaccard near " +
        "1) — both churn regimes and both estimator paths (exact below " +
        "k, estimating above) bind under the oracle, which re-derives " +
        "every k-minimum list with ORDER BY h LIMIT k and replays the " +
        "arithmetic bit-for-bit.",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        Profile.driftSketch(
          li.filter(col("l_orderkey") % 2 === 0),
          li.filter(col("l_orderkey") % 2 === 1),
          ProfCols, k = SketchK)
      },
      Some(driftSketchOracle))
  )
}
