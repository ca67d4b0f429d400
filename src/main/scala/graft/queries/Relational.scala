package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Metrics, RuntimeFilters}
import graft.plans.AsOfJoin
import graft.queries.OracleCompat.{davg, dsum}

/** General relational surface (SURVEY.md §2.3-2.5 and the "free from Spark"
  * operators the oracle harness exercises: group-by, joins of every flavor,
  * window, sort/limit, set ops, distinct, rollup).
  *
  * Scale notes, per query, live in each `doc` — the common themes:
  *  - dimensions are `broadcast()` so star joins never shuffle the fact;
  *  - aggregations are partial-agg friendly (plain sum/count on group keys);
  *  - every filter/projection is a plain Catalyst expression on the scan,
  *    so parquet gets PushedFilters + pruned ReadSchema.
  */
object Relational {

  val all: Seq[Q] = Seq(

    Q("q1_agg",
      "A1-style pricing summary: hash aggregate with map-side combine; " +
        "exact decimal sums for oracle determinism.",
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  cast(sum(cast(l_quantity as decimal(28,8))) as double) AS sum_qty,
             |  cast(sum(cast(l_extendedprice as decimal(28,8))) as double) AS sum_base_price,
             |  cast(sum(cast(l_extendedprice * (1.0::DOUBLE - l_discount) as decimal(28,8))) as double) AS sum_disc_price,
             |  cast(sum(cast(l_discount as decimal(28,8))) as double) / count(*) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("q2_filter_proj",
      "P1/P3/P5 — date-range + quantity filter with projection; both reach " +
        "the parquet scan (PushedFilters + 4-column ReadSchema).",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate").between(lit("1996-01-01").cast("timestamp"),
                                          lit("1996-12-31").cast("timestamp"))
          && col("l_quantity") < 5)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem
             |WHERE l_shipdate BETWEEN timestamp '1996-01-01' AND timestamp '1996-12-31'
             |  AND l_quantity < 5
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Q("q3_join_agg",
      "J1-style fact-dim join + aggregate: customer is broadcast; lineitem " +
        "joins orders on the shuffle key once, then hash-aggregates.",
      (s, d) => {
        val c = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val l = Tables.lineitem(s, d)
          .select("l_orderkey", "l_extendedprice", "l_discount")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
            countDistinct(col("o_orderkey")).as("n_orders"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment,
             |  cast(sum(cast(l_extendedprice * (1.0::DOUBLE - l_discount) as decimal(28,8))) as double) AS revenue,
             |  count(DISTINCT o_orderkey) AS n_orders
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)),

    Q("q4_semi_join",
      "EXISTS as left-semi join — no payload from the probe side crosses " +
        "the shuffle, and the semi join short-circuits per key.",
      (s, d) => {
        val o = Tables.orders(s, d)
        val big = Tables.lineitem(s, d).filter(col("l_quantity") >= 49)
          .select("l_orderkey")
        o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
          .select("o_orderkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice
             |FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
             |ORDER BY o_orderkey""".stripMargin)),

    Q("q5_anti_join",
      "NOT EXISTS as left-anti join (customers with no large order).",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
          .filter(col("o_totalprice") > 300000).select("o_custkey")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name
             |FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),

    Q("q6_window_topk",
      "Top-3 orders per customer via row_number window — single shuffle on " +
        "the partition key; rank ties broken by a total ordering.",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn
             |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             |        row_number() OVER (PARTITION BY o_custkey
             |                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |      FROM orders)
             |WHERE rn <= 3
             |ORDER BY o_custkey, rn""".stripMargin)),

    Q("q7_sort_limit",
      "Global top-10 by computed revenue — Spark plans TakeOrderedAndProject " +
        "(per-partition top-k + driver merge), no full sort at scale.",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10),
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_extendedprice * (1.0::DOUBLE - l_discount) AS revenue
             |FROM lineitem
             |ORDER BY revenue DESC, l_orderkey, l_linenumber
             |LIMIT 10""".stripMargin)),

    Q("q8_setops",
      "Set operations: nations that have both customers and suppliers " +
        "(INTERSECT) vs customer-only nations (EXCEPT), tagged and unioned.",
      (s, d) => {
        val n = Tables.nation(s, d)
        val cn = Tables.customer(s, d)
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .select("n_name")
        val sn = Tables.supplier(s, d)
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .select("n_name")
        cn.intersect(sn).withColumn("tag", lit("both"))
          .unionByName(cn.except(sn).withColumn("tag", lit("cust_only")))
          .select("tag", "n_name")
          .orderBy("tag", "n_name")
      },
      Some("""SELECT tag, n_name FROM (
             |  SELECT 'both' AS tag, n_name FROM (
             |    SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
             |    INTERSECT
             |    SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey)
             |  UNION ALL
             |  SELECT 'cust_only' AS tag, n_name FROM (
             |    SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
             |    EXCEPT
             |    SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey))
             |ORDER BY tag, n_name""".stripMargin)),

    Q("q9_distinct_agg",
      "Exact distinct aggregation per group (expand + two-phase agg in " +
        "Spark; approx_count_distinct is the documented 100TB alternative).",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("custs"),
             count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(DISTINCT o_custkey) AS custs, count(*) AS n
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    Q("q10_star_join",
      "5-table star join: region/nation broadcast (25 rows), customer " +
        "broadcast, fact tables shuffle once on the join key.",
      (s, d) => {
        val r = Tables.region(s, d)
        val n = Tables.nation(s, d)
        val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val l = Tables.lineitem(s, d)
          .select("l_orderkey", "l_extendedprice", "l_discount")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
               count(lit(1)).as("n_items"))
          .orderBy("r_name", "n_name")
      },
      Some("""SELECT r_name, n_name,
             |  cast(sum(cast(l_extendedprice * (1.0::DOUBLE - l_discount) as decimal(28,8))) as double) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name
             |ORDER BY r_name, n_name""".stripMargin)),

    Q("q11_cast_null",
      "P9 cast semantics: numeric prefix parse (always valid) plus a " +
        "null-on-failure cast — pandas astype vs Spark ANSI drift pinned. " +
        "Implemented as a regex-guarded cast, NOT try_cast: try_cast " +
        "throws/catches a JVM exception per failing row (11s for 150k " +
        "all-failing rows at sf0.1; the guard makes it free).",
      (s, d) => Tables.orders(s, d)
        .select(
          col("o_orderpriority"),
          get(split(col("o_orderpriority"), "-"), lit(0)).cast("long").as("prio_num"),
          when(col("o_orderstatus").rlike("^-?[0-9]+$"),
            col("o_orderstatus").cast("long")).as("status_num"))
        .distinct()
        .orderBy("o_orderpriority"),
      Some("""SELECT DISTINCT o_orderpriority,
             |  cast(string_split(o_orderpriority, '-')[1] AS BIGINT) AS prio_num,
             |  TRY_CAST(o_orderstatus AS BIGINT) AS status_num
             |FROM orders
             |ORDER BY o_orderpriority""".stripMargin)),

    Q("q12_accuracy",
      "A1 — accuracy as an aggregate, computed twice: once as a pure " +
        "expression (codegen'd) and once through the typed Aggregator UDAF; " +
        "equality of the two is itself part of the check.",
      (s, d) => {
        val docs = Tables.documents(s, d).select(
          concat(lit("LABEL_"), OracleCompat.md5Label(col("text"))).as("pred"),
          concat(lit("LABEL_"), col("doc_id") % 16).as("truth"))
        docs.agg(
          Metrics.accuracyCol(col("pred"), col("truth")).as("accuracy_expr"),
          Metrics.accuracyUdaf(col("pred"), col("truth")).as("accuracy_udaf"),
          count(lit(1)).as("n"))
      },
      Some("""SELECT
             |  avg(CASE WHEN (instr('0123456789abcdef', substr(md5(text),1,1))-1) % 16
             |                = doc_id % 16 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS accuracy_expr,
             |  avg(CASE WHEN (instr('0123456789abcdef', substr(md5(text),1,1))-1) % 16
             |                = doc_id % 16 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS accuracy_udaf,
             |  count(*) AS n
             |FROM documents""".stripMargin)),

    Q("q14_outer_join",
      "FULL OUTER join of two aggregates with coalesce'd keys/counts — " +
        "null-completion semantics pinned against pandas-merge drift.",
      (s, d) => {
        val cn = Tables.customer(s, d).groupBy(col("c_nationkey").as("nk"))
          .agg(count(lit(1)).as("c_cnt"))
        val sn = Tables.supplier(s, d).groupBy(col("s_nationkey").as("snk"))
          .agg(count(lit(1)).as("s_cnt"))
        cn.join(sn, cn("nk") === sn("snk"), "full_outer")
          .select(
            coalesce(col("nk"), col("snk")).as("nationkey"),
            coalesce(col("c_cnt"), lit(0L)).as("c_cnt"),
            coalesce(col("s_cnt"), lit(0L)).as("s_cnt"))
          .orderBy("nationkey")
      },
      Some("""SELECT coalesce(cn.nk, sn.snk) AS nationkey,
             |       coalesce(c_cnt, 0) AS c_cnt, coalesce(s_cnt, 0) AS s_cnt
             |FROM (SELECT c_nationkey AS nk, count(*) AS c_cnt
             |      FROM customer GROUP BY 1) cn
             |FULL OUTER JOIN (SELECT s_nationkey AS snk, count(*) AS s_cnt
             |      FROM supplier GROUP BY 1) sn
             |  ON cn.nk = sn.snk
             |ORDER BY nationkey""".stripMargin)),

    Q("q15_sql_surface",
      "The spark.sql entry point with IN- and scalar subqueries (decimal-" +
        "exact average so the threshold is bit-identical cross-engine); " +
        "Catalyst rewrites IN to a semi join and the scalar to a " +
        "one-row broadcast.",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_v")
        Tables.customer(s, d).createOrReplaceTempView("customer_v")
        s.sql("""
          SELECT o_orderpriority, count(*) AS n
          FROM orders_v
          WHERE o_custkey IN (SELECT c_custkey FROM customer_v
                              WHERE c_mktsegment = 'BUILDING')
            AND o_totalprice > (SELECT cast(sum(cast(o_totalprice
                    AS decimal(28,8))) AS double) / count(*) FROM orders_v)
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, count(*) AS n
             |FROM orders
             |WHERE o_custkey IN (SELECT c_custkey FROM customer
             |                    WHERE c_mktsegment = 'BUILDING')
             |  AND o_totalprice > (SELECT cast(sum(cast(o_totalprice
             |          AS decimal(28,8))) AS double) / count(*) FROM orders)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    Q("q16_like_filter",
      "String predicate pushdown: LIKE '%..%' reaches the parquet scan as " +
        "StringContains; prefix LIKE as StringStartsWith.",
      (s, d) => Tables.part(s, d)
        .filter(col("p_type").like("%ECON%") && col("p_brand").like("Brand#1%"))
        .groupBy(col("p_brand"), col("p_type"))
        .agg(count(lit(1)).as("n"),
          dsum(col("p_retailprice")).as("sum_price"))
        .orderBy("p_brand", "p_type"),
      Some("""SELECT p_brand, p_type, count(*) AS n,
             |  cast(sum(cast(p_retailprice AS decimal(28,8))) AS double) AS sum_price
             |FROM part
             |WHERE p_type LIKE '%ECON%' AND p_brand LIKE 'Brand#1%'
             |GROUP BY p_brand, p_type
             |ORDER BY p_brand, p_type""".stripMargin)),

    Q("q17_topk_agg",
      "Top-3 orders per customer via the custom TopKByKey " +
        "TypedImperativeAggregate — unlike the q6 window form, partial " +
        "aggregation bounds the shuffle to ≤k rows per (task, group); " +
        "oracle restates it as the window query (same answer, different " +
        "plan class).",
      (s, d) => {
        import graft.functions.TopKAgg
        Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(TopKAgg.topK(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
          .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("o_custkey"), col("t.id").as("o_orderkey"),
            col("t.sort_key").as("o_totalprice"), (col("pos") + 1).cast("long").as("rn"))
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn
             |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             |        row_number() OVER (PARTITION BY o_custkey
             |                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |      FROM orders)
             |WHERE rn <= 3
             |ORDER BY o_custkey, rn""".stripMargin)),

    Q("q18_pivot",
      "Pivot (long→wide): order counts per priority × status. Spark's " +
        "pivot with explicit values compiles to one conditional " +
        "aggregation pass — same plan class as the FILTER-clause oracle.",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .toDF("o_orderpriority", "n_f", "n_o", "n_p")
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    Q("q19_salted_join",
      "Skew-mitigated join: l_returnflag has 3 values over the whole fact " +
        "table (pathological hot keys) — the dimension is replicated " +
        "8× and the fact side salted deterministically, spreading each " +
        "hot key over 8 shuffle partitions. Oracle = the plain join: " +
        "salting must be invisible in the result.",
      (s, d) => {
        import graft.ops.Skew
        val li = Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        val dim = li.select(col("l_returnflag")).distinct()
          .withColumn("flag_name", concat(lit("flag_"), col("l_returnflag")))
        Skew.saltedJoin(li, dim, "l_returnflag",
            struct(col("l_orderkey"), col("l_linenumber")), saltBuckets = 8)
          .groupBy(col("flag_name"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("flag_name")
      },
      Some("""SELECT 'flag_' || l_returnflag AS flag_name, count(*) AS n,
             |  cast(sum(cast(l_quantity AS decimal(28,8))) AS double) AS sum_qty
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY flag_name""".stripMargin)),

    Q("q13_rollup",
      "ROLLUP grouping sets — partial totals and a grand total in one " +
        "aggregation pass (Expand operator, single shuffle).",
      (s, d) => Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  cast(sum(cast(l_quantity as decimal(28,8))) as double) AS sum_qty,
             |  count(*) AS n
             |FROM lineitem
             |GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    Q("q20_asof_join",
      "As-of (temporal) join via the custom Catalyst operator " +
        "(AsOfJoinPlan → AsOfJoinStrategy → AsOfJoinExec): for each " +
        "purchase event, the latest prior-or-equal view by the same user. " +
        "Plans as a co-partitioned sort-merge with one O(n+m) forward " +
        "pass — no pair blow-up. Oracle: DuckDB's native ASOF LEFT JOIN.",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("p_us"), col("value").as("p_value"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"),
            unix_micros(col("ts")).as("v_us"), col("value").as("v_value"))
        AsOfJoin.asof(purchases, views,
            leftOn = Seq("user_id"), rightOn = Seq("v_user"),
            leftTimeCol = "p_us", rightTimeCol = "v_us")
          .select("user_id", "event_id", "p_us", "p_value", "v_us", "v_value")
          .orderBy("user_id", "p_us", "event_id")
      },
      Some("""WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS p_us,
             |                  value AS p_value
             |           FROM events WHERE event_type = 'purchase'),
             |     v AS (SELECT user_id AS v_user, epoch_us(ts) AS v_us,
             |                  value AS v_value
             |           FROM events WHERE event_type = 'view')
             |SELECT p.user_id, p.event_id, p.p_us, p.p_value, v.v_us, v.v_value
             |FROM p ASOF LEFT JOIN v
             |  ON p.user_id = v.v_user AND v.v_us <= p.p_us
             |ORDER BY p.user_id, p.p_us, p.event_id""".stripMargin)),

    Q("q24_range_join",
      "Pure range join (no equi-key): every view within ±60s of any " +
        "purchase, across all users. Naive planning is a nested-loop " +
        "O(n·m); RangeJoin.pointInInterval manufactures a bucket " +
        "equi-key (2-bucket explode on the interval side) so it plans as " +
        "an ordinary shuffle join + exact-range refilter.",
      (s, d) => {
        val ev = Tables.events(s, d)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_event"),
            unix_micros(col("ts")).as("p_us"))
          .withColumn("lo", col("p_us") - 60000000L)
          .withColumn("hi", col("p_us") + 60000000L)
        val v = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("v_event"),
            unix_micros(col("ts")).as("v_us"))
        graft.ops.RangeJoin.pointInInterval(p, "lo", "hi", v, "v_us",
            bucketWidth = 120000000L)
          .select("p_event", "p_us", "v_event", "v_us")
          .orderBy("p_event", "v_event")
      },
      Some("""WITH p AS (SELECT event_id AS p_event, epoch_us(ts) AS p_us
             |           FROM events WHERE event_type = 'purchase'),
             |     v AS (SELECT event_id AS v_event, epoch_us(ts) AS v_us
             |           FROM events WHERE event_type = 'view')
             |SELECT p_event, p_us, v_event, v_us
             |FROM p JOIN v ON v.v_us BETWEEN p.p_us - 60000000 AND p.p_us + 60000000
             |ORDER BY p_event, v_event""".stripMargin)),

    Q("q25_correlated",
      "Correlated subqueries — the decorrelation surface q15 doesn't " +
        "touch: a correlated scalar (per-nation decimal-exact average, " +
        "rewritten by Catalyst into an aggregate + join) and a " +
        "correlated EXISTS (rewritten to a semi join).",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer_v")
        Tables.orders(s, d).createOrReplaceTempView("orders_v")
        s.sql("""
          SELECT c_nationkey, count(*) AS n_above
          FROM customer_v c
          WHERE c_acctbal > (SELECT cast(sum(cast(c2.c_acctbal
                     AS decimal(28,8))) AS double) / count(*)
                   FROM customer_v c2
                   WHERE c2.c_nationkey = c.c_nationkey)
            AND EXISTS (SELECT 1 FROM orders_v o
                        WHERE o.o_custkey = c.c_custkey)
          GROUP BY c_nationkey
          ORDER BY c_nationkey""")
      },
      Some("""SELECT c_nationkey, count(*) AS n_above
             |FROM customer c
             |WHERE c_acctbal > (SELECT cast(sum(cast(c2.c_acctbal
             |           AS decimal(28,8))) AS double) / count(*)
             |         FROM customer c2
             |         WHERE c2.c_nationkey = c.c_nationkey)
             |  AND EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey)
             |GROUP BY c_nationkey
             |ORDER BY c_nationkey""".stripMargin)),

    Q("q21_quantile",
      "Exact grouped percentiles (p25/p50/p90) — Spark's sort-based " +
        "`percentile` against DuckDB's `quantile_cont` (both linear " +
        "interpolation at pos = p·(n−1)).",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          percentile(col("l_extendedprice"), lit(0.25)).as("p25"),
          percentile(col("l_extendedprice"), lit(0.5)).as("p50"),
          percentile(col("l_extendedprice"), lit(0.9)).as("p90"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(*) AS n,
             |  quantile_cont(l_extendedprice, 0.25) AS p25,
             |  quantile_cont(l_extendedprice, 0.5) AS p50,
             |  quantile_cont(l_extendedprice, 0.9) AS p90
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("q22_window_suite",
      "Window-function depth over orders: lag/lead (customer order " +
        "history), rank + dense_rank (spend rank per customer), ntile " +
        "quartiles and cume_dist — one WindowExec pass, all functions " +
        "sharing the (custkey, date, key) frame.",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, d)
          .filter(col("o_custkey") % 10 === 0)
          .select(col("o_custkey"), col("o_orderkey"),
            // o_orderdate is TIMESTAMP_NTZ; cast through TIMESTAMP (session
            // tz is pinned UTC) for unix_micros parity with epoch_us
            unix_micros(col("o_orderdate").cast("timestamp")).as("od_us"),
            col("o_totalprice"),
            lag(col("o_totalprice"), 1).over(w).as("prev_price"),
            lead(col("o_totalprice"), 1).over(w).as("next_price"),
            rank().over(w).cast("long").as("rk"),
            dense_rank().over(w).cast("long").as("drk"),
            ntile(4).over(w).cast("long").as("quartile"),
            cume_dist().over(w).as("cd"))
          .orderBy("o_custkey", "od_us", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS od_us,
             |  o_totalprice,
             |  lag(o_totalprice, 1) OVER w AS prev_price,
             |  lead(o_totalprice, 1) OVER w AS next_price,
             |  rank() OVER w AS rk,
             |  dense_rank() OVER w AS drk,
             |  ntile(4) OVER w AS quartile,
             |  cume_dist() OVER w AS cd
             |FROM orders
             |WHERE o_custkey % 10 = 0
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, od_us, o_orderkey""".stripMargin)),

    Q("q23_cube",
      "CUBE over (returnflag, linestatus) with grouping_id — all four " +
        "grouping-set combinations in one partial-aggregable pass.",
      (s, d) => Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          OracleCompat.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
             |  count(*) AS n,
             |  cast(sum(cast(l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    Q("q27_range_frame",
      "RANGE-frame window: per-customer 30-day trailing order total — " +
        "the frame is bounded by VALUE distance (order date in days), " +
        "not row count, so bursts of same-day orders aggregate together. " +
        "The other WindowExec frame shape next to q22's ROWS/default " +
        "frames.",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val day = (unix_micros(col("o_orderdate").cast("timestamp")) /
          86400000000L).cast("long")
        val w = Window.partitionBy("o_custkey").orderBy("order_day")
          .rangeBetween(-30, Window.currentRow)
        Tables.orders(s, d)
          .filter(col("o_custkey") % 20 === 0)
          .withColumn("order_day", day)
          .select(col("o_custkey"), col("o_orderkey"), col("order_day"),
            // .over must attach to the aggregate itself; cast outside
            sum(col("o_totalprice")
                .cast(org.apache.spark.sql.types.DecimalType(28, 8)))
              .over(w).cast("double").as("trailing_30d"),
            count(lit(1)).over(w).as("n_trailing"))
          .orderBy("o_custkey", "order_day", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  epoch_us(o_orderdate) // 86400000000 AS order_day,
             |  cast(sum(cast(o_totalprice AS DECIMAL(28,8)))
             |    OVER w AS DOUBLE) AS trailing_30d,
             |  count(*) OVER w AS n_trailing
             |FROM orders
             |WHERE o_custkey % 20 = 0
             |WINDOW w AS (PARTITION BY o_custkey
             |  ORDER BY epoch_us(o_orderdate) // 86400000000
             |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
             |ORDER BY o_custkey, order_day, o_orderkey""".stripMargin)),

    Q("q26_multi_distinct",
      "Several COUNT(DISTINCT) over different columns in one aggregation " +
        "— Catalyst plans this through Expand (rows replicated per " +
        "distinct set, then one partial-aggregable pass) instead of N " +
        "self-joined subqueries.",
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderpriority")).as("n_prio"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
             |  count(DISTINCT o_custkey) AS n_cust,
             |  count(DISTINCT o_orderpriority) AS n_prio,
             |  count(*) AS n
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("q28_grouping_sets",
      "Explicit GROUPING SETS — the arbitrary-subset member of the " +
        "cube/rollup family (q23/q13 cover the full lattice and the " +
        "prefix chain; real reports ask for a hand-picked set): " +
        "(returnflag, linestatus), (returnflag), (suppkey mod 10), () " +
        "— all four sets in ONE partial-aggregable Expand pass, " +
        "distinguished by grouping_id.",
      (s, d) => Tables.lineitem(s, d)
        .withColumn("supp_bucket", col("l_suppkey") % 10)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("supp_bucket")), Seq()),
          col("l_returnflag"), col("l_linestatus"), col("supp_bucket"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          OracleCompat.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first,
          col("supp_bucket").asc_nulls_first)
        .select("l_returnflag", "l_linestatus", "supp_bucket", "gid",
          "n", "sum_qty"),
      Some("""WITH li AS (
             |  SELECT *, l_suppkey % 10 AS supp_bucket FROM lineitem)
             |SELECT l_returnflag, l_linestatus, supp_bucket,
             |  grouping(l_returnflag) * 4 + grouping(l_linestatus) * 2 +
             |    grouping(supp_bucket) AS gid,
             |  count(*) AS n,
             |  cast(sum(cast(l_quantity AS DECIMAL(28,8))) AS DOUBLE)
             |    AS sum_qty
             |FROM li
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
             |  (l_returnflag), (supp_bucket), ())
             |ORDER BY gid, l_returnflag NULLS FIRST,
             |  l_linestatus NULLS FIRST, supp_bucket NULLS FIRST""".stripMargin)),

    Q("q29_bloom_join",
      "Explicit runtime-filter join reduction " +
        "(RuntimeFilters.bloomReducedJoin): a bloom filter built over " +
        "the filtered dim side's keys (distributed partial aggregation " +
        "— only the fixed-size filter reaches the driver) prunes the " +
        "fact side AT THE SCAN with a native codegen'd " +
        "BloomFilterMightContain before the exchange, so only " +
        "~(match_rate + fpp) of lineitem pays the shuffle; the exact " +
        "join then clears the false positives, making the result " +
        "EXACTLY the plain inner join — which is the oracle. The " +
        "explicit form of the optimizer's own runtime bloom filters, " +
        "for when the author knows the reduction pays (dim too big to " +
        "broadcast, key set a few MB of filter).",
      (s, d) => RuntimeFilters.bloomReducedJoin(
          Tables.lineitem(s, d)
            .select("l_orderkey", "l_quantity", "l_returnflag"),
          Tables.orders(s, d).filter(col("o_orderstatus") === "P")
            .select("o_orderkey"),
          "l_orderkey", "o_orderkey",
          expectedItems = 100000L, fpp = 0.01)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(*) AS n,
             |  cast(sum(cast(l_quantity AS DECIMAL(28,8))) AS DOUBLE)
             |    AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderstatus = 'P'
             |GROUP BY 1
             |ORDER BY l_returnflag""".stripMargin)),

    Q("q30_unpivot",
      "Relational melt: four lineitem measures unpivot to long format " +
        "in ONE scan (Spark plans Expand — each row emits 4 tuples " +
        "map-side; the UNION-ALL restatement the oracle runs would " +
        "scan four times), then a per-metric exact-decimal rollup.",
      (s, d) => Tables.lineitem(s, d)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "val")
        .groupBy(col("metric"))
        .agg(count(col("val")).as("n"), OracleCompat.dsum(col("val"))
          .as("total"))
        .orderBy(col("metric")),
      Some("""WITH m AS (
             |  SELECT 'l_quantity' AS metric, l_quantity AS val
             |  FROM lineitem
             |  UNION ALL SELECT 'l_extendedprice', l_extendedprice
             |  FROM lineitem
             |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
             |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
             |SELECT metric, count(val) AS n,
             |  CAST(sum(CAST(val AS DECIMAL(28,8))) AS DOUBLE) AS total
             |FROM m GROUP BY metric ORDER BY metric""".stripMargin)),

    Q("q31_asof_tolerance",
      "As-of join with a MAX-STALENESS tolerance (pandas merge_asof " +
        "tolerance / kdb wj): each purchase joins its latest prior " +
        "view by the same user ONLY if that view is at most 6 hours " +
        "old - staler state comes back NULL instead of leaking into " +
        "the feature row. Because the as-of match is already the " +
        "latest row <= t, tolerance is one projection over the custom " +
        "AsOfJoinExec's exact result - never a second join. Oracle: " +
        "DuckDB's native ASOF LEFT JOIN with the same nulling CASE.",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("p_us"), col("value").as("p_value"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"),
            unix_micros(col("ts")).as("v_us"), col("value").as("v_value"))
        AsOfJoin.asofTolerance(purchases, views,
            leftOn = Seq("user_id"), rightOn = Seq("v_user"),
            leftTimeCol = "p_us", rightTimeCol = "v_us",
            tolerance = 6L * 3600L * 1000000L)
          .select("user_id", "event_id", "p_us", "p_value", "v_us",
            "v_value")
          .orderBy("user_id", "p_us", "event_id")
      },
      Some("""WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS p_us,
             |                  value AS p_value
             |           FROM events WHERE event_type = 'purchase'),
             |     v AS (SELECT user_id AS v_user, epoch_us(ts) AS v_us,
             |                  value AS v_value
             |           FROM events WHERE event_type = 'view')
             |SELECT p.user_id, p.event_id, p.p_us, p.p_value,
             |  CASE WHEN v.v_us IS NOT NULL
             |        AND p.p_us - v.v_us <= 21600000000
             |       THEN v.v_us END AS v_us,
             |  CASE WHEN v.v_us IS NOT NULL
             |        AND p.p_us - v.v_us <= 21600000000
             |       THEN v.v_value END AS v_value
             |FROM p ASOF LEFT JOIN v
             |  ON p.user_id = v.v_user AND v.v_us <= p.p_us
             |ORDER BY p.user_id, p.p_us, p.event_id""".stripMargin))
  )
}
