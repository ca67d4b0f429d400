package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Cdc, Curation, IncrementalAgg, Layout, Profile, Sinks}
import graft.queries.OracleCompat.{ProfCols, SketchK, dsum, kmvOracle, upsertCtes, upsertOracle}
import graft.queries.QueryFixtures.{scratch, upsertChanges}

/** Lakehouse sources and table maintenance: file-format sources
  * (`src_*`), table layout and compaction (`lake_*`), change data capture
  * (`cdc_*`) and incremental view maintenance (`inc_*`).
  */
object LakeQueries {

  /** The incremental-view fixture, defined ONCE for inc_agg and
    * inc_agg_asof: orders split into three batches by o_orderkey % 3,
    * each batch's per-status partials written + committed under the
    * shared path. Idempotent (writeBatch overwrites exactly its own
    * subtree), so either query can run first or both can rebuild.
    */
  private def writeIncAggBatches(s: org.apache.spark.sql.SparkSession,
                                 d: String): String = {
    val orders = Tables.orders(s, d)
    val path = scratch("graft_incagg", d)
    (0L to 2L).foreach { b =>
      IncrementalAgg.writeBatch(
        IncrementalAgg.partials(
          orders.filter(col("o_orderkey") % 3 === b),
          "o_orderstatus", "o_totalprice"),
        path, b)
    }
    path
  }

  val all: Seq[Q] = Seq(

    Q("cdc_scd2",
      "CDC merge / SCD type-2 dimension maintenance without a table " +
        "format: the customer snapshot lifted to a versioned dimension, " +
        "merged with a deterministic change batch (hash-bucketed " +
        "updates, no-op echoes, and brand-new keys). Updated keys close " +
        "their open version at the effective date and a new version is " +
        "born; identical echoes cause NO version churn; new keys " +
        "insert open. One co-partitioned full-outer sort-merge join " +
        "whose exchanges the kept/closed/born branches REUSE, + a " +
        "shuffle-free union with closed history.",
      (s, d) => {
        val cust = Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_acctbal")
        val dim = cust
          .withColumn("valid_from", lit(java.sql.Date.valueOf("2024-01-01")))
          .withColumn("valid_to", lit(null).cast("date"))
        val b = Curation.hashBucket(col("c_custkey"))
        val upd = cust.filter(b < 16384)
          .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        val noop = cust.filter(b >= 16384 && b < 20480)
        val ins = cust.filter(b < 4096).select(
          (col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("NEW "), col("c_name")).as("c_name"),
          lit(0.0).as("c_acctbal"))
        val changes = upd.unionByName(noop).unionByName(ins)
        graft.ops.Cdc.scd2Merge(dim, changes, Seq("c_custkey"),
            lit(java.sql.Date.valueOf("2024-06-01")))
          .orderBy(col("c_custkey"), col("valid_from"),
            col("valid_to").asc_nulls_last)
      },
      Some(
        """WITH dim AS (
          |  SELECT c_custkey, c_name, c_acctbal,
          |         DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
          |  FROM customer),
          |hb AS (
          |  SELECT c_custkey,
          |         ('0x' || substring(md5(c_custkey::VARCHAR), 1, 4))::BIGINT AS b
          |  FROM customer),
          |upd AS (
          |  SELECT c.c_custkey, c.c_name, c.c_acctbal + 100.0 AS c_acctbal
          |  FROM customer c JOIN hb USING (c_custkey) WHERE hb.b < 16384),
          |noop AS (
          |  SELECT c.c_custkey, c.c_name, c.c_acctbal
          |  FROM customer c JOIN hb USING (c_custkey)
          |  WHERE hb.b >= 16384 AND hb.b < 20480),
          |ins AS (
          |  SELECT c.c_custkey + 1000000 AS c_custkey,
          |         'NEW ' || c.c_name AS c_name, 0.0::DOUBLE AS c_acctbal
          |  FROM customer c JOIN hb USING (c_custkey) WHERE hb.b < 4096),
          |changes AS (
          |  SELECT * FROM upd UNION ALL SELECT * FROM noop
          |  UNION ALL SELECT * FROM ins),
          |kept AS (
          |  SELECT d.c_custkey, d.c_name, d.c_acctbal, d.valid_from, d.valid_to
          |  FROM dim d LEFT JOIN changes ch ON d.c_custkey = ch.c_custkey
          |  WHERE ch.c_custkey IS NULL
          |     OR (d.c_name IS NOT DISTINCT FROM ch.c_name
          |         AND d.c_acctbal IS NOT DISTINCT FROM ch.c_acctbal)),
          |closed AS (
          |  SELECT d.c_custkey, d.c_name, d.c_acctbal, d.valid_from,
          |         DATE '2024-06-01' AS valid_to
          |  FROM dim d JOIN changes ch ON d.c_custkey = ch.c_custkey
          |  WHERE NOT (d.c_name IS NOT DISTINCT FROM ch.c_name
          |             AND d.c_acctbal IS NOT DISTINCT FROM ch.c_acctbal)),
          |born AS (
          |  SELECT ch.c_custkey, ch.c_name, ch.c_acctbal,
          |         DATE '2024-06-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
          |  FROM changes ch LEFT JOIN dim d ON d.c_custkey = ch.c_custkey
          |  WHERE d.c_custkey IS NULL
          |     OR NOT (d.c_name IS NOT DISTINCT FROM ch.c_name
          |             AND d.c_acctbal IS NOT DISTINCT FROM ch.c_acctbal))
          |SELECT * FROM kept
          |UNION ALL SELECT * FROM closed
          |UNION ALL SELECT * FROM born
          |ORDER BY c_custkey, valid_from, valid_to NULLS LAST""".stripMargin)),

    Q("inc_agg",
      "Incremental aggregate maintenance (the materialized-view refresh " +
        "shape): orders arrive in three batches, each contributing a " +
        "PARTIAL per-status aggregate (count, exact decimal sum, " +
        "min/max — all algebraically mergeable) persisted under the " +
        "shared commit-marker state machine; serving merges the " +
        "committed partials (keys x batches rows, the fact table is " +
        "never rescanned) and derives avg from the merged pair. " +
        "Because every partial is algebraic and the sum is exact " +
        "decimal, the merge is bit-identical to the full recompute the " +
        "oracle runs — per-refresh cost at 100 TB is O(new batch), not " +
        "O(history).",
      (s, d) => IncrementalAgg.serve(s, writeIncAggBatches(s, d),
          "o_orderstatus")
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, count(*) AS n,
             |  cast(sum(cast(o_totalprice AS DECIMAL(28,8))) AS DOUBLE)
             |    AS total,
             |  min(o_totalprice) AS min_v, max(o_totalprice) AS max_v,
             |  cast(sum(cast(o_totalprice AS DECIMAL(28,8))) AS DOUBLE)
             |    / count(*) AS avg_v
             |FROM orders
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    Q("inc_agg_asof",
      "TIME TRAVEL for the incremental view: after all three batches " +
        "commit, serve AS-OF batch 1 — only markers with id <= 1 " +
        "replay (monotone batch ids make that the true prefix of view " +
        "history, the same contract the index layouts' as-of uses), so " +
        "the reader sees the aggregate exactly as it stood after batch " +
        "1 committed. Oracle: the direct recompute over the first two " +
        "thirds of orders.",
      (s, d) => IncrementalAgg.serve(s, writeIncAggBatches(s, d),
          "o_orderstatus", asOf = Some(1L))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, count(*) AS n,
             |  cast(sum(cast(o_totalprice AS DECIMAL(28,8))) AS DOUBLE)
             |    AS total,
             |  min(o_totalprice) AS min_v, max(o_totalprice) AS max_v,
             |  cast(sum(cast(o_totalprice AS DECIMAL(28,8))) AS DOUBLE)
             |    / count(*) AS avg_v
             |FROM orders
             |WHERE o_orderkey % 3 <= 1
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    Q("inc_distinct",
      "Incremental DISTINCT-count view via mergeable sketches: a " +
        "distinct count does not merge across batches, its HLL sketch " +
        "does — each of three event batches persists per-type " +
        "Datasketches HLL partials under the commit markers, serving " +
        "unions the committed sketches (keys x batches rows, facts " +
        "never rescanned for the estimate) and the output gates the " +
        "merged estimate against the exact count with the ev_sketch " +
        "bounded-error pattern: exact values hash-check cross-engine, " +
        "a broken merge fails the boolean, in-bound sketch wobble " +
        "does not.",
      (s, d) => {
        val ev = Tables.events(s, d)
        val path = scratch("graft_incdistinct", d)
        (0L to 2L).foreach { b =>
          IncrementalAgg.writeBatch(
            IncrementalAgg.sketchPartials(
              ev.filter(col("event_id") % 3 === b), "event_type", "user_id"),
            path, b)
        }
        IncrementalAgg.serveDistinct(s, path, ev, "event_type", "user_id")
      },
      Some("""SELECT event_type,
             |  count(DISTINCT user_id) AS exact_distinct,
             |  true AS hll_within_tol
             |FROM events
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    Q("cdc_upsert",
      "Latest-wins UPSERT merge (the MERGE INTO / CDC-compaction " +
        "shape, maintaining the CURRENT snapshot where cdc_scd2 " +
        "maintains history): a change batch with replayed updates " +
        "(seq 1 and 2 for the same key — highest sequence wins), " +
        "deletes that override earlier updates, and fresh inserts " +
        "applies to the customer base. The batch collapses to one row " +
        "per key via a max-of-struct aggregate (no window); the base " +
        "pays one left-anti join against the collapsed key set plus a " +
        "union — never windowed or sorted.",
      (s, d) => {
        val base = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        graft.ops.Cdc.upsertLatest(base, upsertChanges(base),
          Seq("c_custkey"), "seq", "op").orderBy("c_custkey")
      },
      Some(upsertOracle)),

    Q("lake_bucketed",
      "Shuffle-free co-located join from BUCKETED tables at rest " +
        "(Sinks.bucketedTable): orders and customer are both written " +
        "hash-bucketed (and sorted) on the customer key into the " +
        "session catalog, so the join and the downstream per-customer " +
        "aggregate read pre-partitioned bucket files and the whole " +
        "query plans with ZERO hash exchanges (PlanAuditSpec pins it) " +
        "— at 100 TB this is the difference between re-shuffling the " +
        "fact table on every run and paying the shuffle once at write " +
        "time. The oracle recomputes the same join/aggregate from the " +
        "raw tables, so the bucketed write+serve roundtrip is " +
        "hash-checked lossless.",
      (s, d) => {
        val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
        val ot = s"graft_orders_bkt$sfx"
        val ct = s"graft_cust_bkt$sfx"
        Sinks.bucketedTable(Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice"),
          ot, buckets = 8, Seq("o_custkey"))
        Sinks.bucketedTable(Tables.customer(s, d)
          .select("c_custkey", "c_mktsegment"),
          ct, buckets = 8, Seq("c_custkey"))
        s.table(ot)
          .join(s.table(ct), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment, count(*) AS n_orders,
             |  cast(sum(cast(o_totalprice AS DECIMAL(28,8))) AS DOUBLE)
             |    AS total
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1, 2
             |ORDER BY c_custkey""".stripMargin)),

    Q("lake_zorder",
      "Z-ORDERED rewrite + box probe, the serve-path gate for " +
        "Layout.zOrderedParquet: lineitem is clustered along the " +
        "Morton curve of (l_partkey, l_suppkey) — every file covers a " +
        "small rectangle of the key plane, so parquet min/max stats " +
        "prune on EITHER dimension (LayoutSpec measures the file " +
        "boxes; a plain x-sort leaves y-filters pruning nothing) — " +
        "then a two-dimensional box predicate reads the layout back " +
        "and aggregates. Pruning must never change results: the " +
        "oracle recomputes the box aggregate from the raw table, " +
        "hash-checking the rewrite as lossless and the probe as " +
        "exact.",
      (s, d) => {
        val path = scratch("graft_zorder", d)
        Layout.zOrderedParquet(Tables.lineitem(s, d)
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_returnflag"),
          path, numFiles = 8, "l_partkey", "l_suppkey")
        s.read.parquet(path)
          .filter(col("l_partkey").between(20, 79) &&
            col("l_suppkey").between(2, 5))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  cast(sum(cast(l_quantity AS DECIMAL(28,8))) AS DOUBLE)
             |    AS sum_qty
             |FROM lineitem
             |WHERE l_partkey BETWEEN 20 AND 79
             |  AND l_suppkey BETWEEN 2 AND 5
             |GROUP BY 1
             |ORDER BY l_returnflag""".stripMargin)),

    Q("src_csv_roundtrip",
      "CSV sink → CSV source ROUNDTRIP gate (K3 + S1 get an oracle " +
        "row, not just a spec): customer writes through Sinks.csv " +
        "(header, partition-parallel) and reads back through " +
        "Tables.csv with the caller-supplied schema (no inference " +
        "pass), then aggregates per segment. The oracle recomputes " +
        "from the original parquet, so the text roundtrip — double " +
        "formatting/parsing included (shortest-repr doubles reparse " +
        "bit-exactly) — is hash-checked lossless.",
      (s, d) => {
        val base = Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        val path = scratch("graft_csvrt", d)
        Sinks.csv(base, path)
        Tables.csv(s, path, base.schema)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            dsum(col("c_acctbal")).as("total_bal"),
            min(col("c_name")).as("first_name"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
             |  cast(sum(cast(c_acctbal AS DECIMAL(28,8))) AS DOUBLE)
             |    AS total_bal,
             |  min(c_name) AS first_name
             |FROM customer
             |GROUP BY 1
             |ORDER BY c_mktsegment""".stripMargin)),

    Q("src_json_roundtrip",
      "JSON-lines sink → source ROUNDTRIP gate (the interchange " +
        "format of crawled corpora): events writes through " +
        "Sinks.jsonLines and reads back schema-first through " +
        "Tables.jsonLines — both sides pin a MICROSECOND timestamp " +
        "format (the default JSON format truncates to millis, a " +
        "silent precision loss this row exists to catch) — then " +
        "aggregates per type including the max event time " +
        "re-formatted to full precision. Oracle recomputes from " +
        "parquet: the roundtrip is hash-checked to the microsecond.",
      (s, d) => {
        val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
        val base = Tables.events(s, d)
          .select("event_id", "user_id", "event_type", "value", "ts")
        val path = scratch("graft_jsonrt", d)
        Sinks.jsonLines(base, path, Map("timestampFormat" -> tsFmt))
        Tables.jsonLines(s, path, base.schema,
            Map("timestampFormat" -> tsFmt))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            dsum(col("value")).as("sum_value"),
            date_format(max(col("ts")), tsFmt).as("last_ts"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  cast(sum(cast(value AS DECIMAL(28,8))) AS DOUBLE)
             |    AS sum_value,
             |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
             |FROM events
             |GROUP BY 1
             |ORDER BY event_type""".stripMargin)),

    Q("src_orc_roundtrip",
      "ORC sink → source ROUNDTRIP gate (the other columnar lake " +
        "format, same pushdown/pruning properties as parquet): " +
        "lineitem writes through Sinks.orc, reads back through " +
        "Tables.orc, and aggregates per return flag; the oracle " +
        "recomputes from the original parquet — format conversion " +
        "hash-checked lossless.",
      (s, d) => {
        val path = scratch("graft_orcrt", d)
        Sinks.orc(Tables.lineitem(s, d)
          .select("l_orderkey", "l_quantity", "l_extendedprice",
            "l_returnflag"), path)
        Tables.orc(s, path)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  cast(sum(cast(l_quantity AS DECIMAL(28,8))) AS DOUBLE)
             |    AS sum_qty,
             |  cast(sum(cast(l_extendedprice AS DECIMAL(28,8))) AS DOUBLE)
             |    AS sum_price
             |FROM lineitem
             |GROUP BY 1
             |ORDER BY l_returnflag""".stripMargin)),

    Q("lake_sorted",
      "Range-sorted rewrite + range probe, the serve-path gate for " +
        "Layout.sortedParquet: orders rewrites range-partitioned and " +
        "sorted on the customer key so every file covers a disjoint " +
        "key range (LayoutSpec pins the disjointness — min/max stats " +
        "then actually prune a key-range scan), and a range predicate " +
        "reads the layout back and aggregates. Oracle recomputes from " +
        "the raw table: the rewrite is hash-checked lossless, the " +
        "probe exact.",
      (s, d) => {
        val path = scratch("graft_sortedrt", d)
        Layout.sortedParquet(Tables.orders(s, d)
            .select("o_orderkey", "o_custkey", "o_orderstatus",
              "o_totalprice"),
          path, numFiles = 8, Seq("o_custkey"))
        s.read.parquet(path)
          .filter(col("o_custkey").between(100, 400))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |  cast(sum(cast(o_totalprice AS DECIMAL(28,8))) AS DOUBLE)
             |    AS total
             |FROM orders
             |WHERE o_custkey BETWEEN 100 AND 400
             |GROUP BY 1
             |ORDER BY o_orderstatus""".stripMargin)),

    Q("cdc_diff",
      "Snapshot DIFF between two committed versions of the upsert " +
        "store - the 'what did this MERGE actually do' audit: keys " +
        "added, removed, changed (any compared column distinct), " +
        "unchanged, from one key-co-partitioned full outer join + one " +
        "4-cell aggregate. Values compare natively (IS NOT DISTINCT " +
        "FROM), never as strings, so double columns diff numerically. " +
        "Version 1 is the customer base, version 2 the cdc_upsert " +
        "merge result, both under the commit-marker chain.",
      (s, d) => {
        val base = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val merged = Cdc.upsertLatest(base, upsertChanges(base),
          Seq("c_custkey"), "seq", "op")
        val path = scratch("graft_cdc_diff", d)
        Cdc.writeSnapshot(base, path, 1L)
        Cdc.writeSnapshot(merged, path, 2L)
        Cdc.snapshotDiff(s, path, 1L, 2L, Seq("c_custkey"),
          Seq("c_name", "c_acctbal"))
      },
      // null-safe join + literal presence markers, matching the Spark
      // side's contract exactly: a NULL key value MATCHES its
      // counterpart (IS NOT DISTINCT FROM), and side presence is a
      // marker column, never key IS NULL — a plain = join would count
      // a null-keyed row as added+removed while Spark counts a match
      Some(s"""WITH ${upsertCtes},
              |j AS (
              |  SELECT b.in_a AS ia, m.in_b AS ib,
              |    b.c_name AS na, m.c_name AS nb,
              |    b.c_acctbal AS ba, m.c_acctbal AS bb
              |  FROM (SELECT *, 1 AS in_a FROM base) b
              |  FULL OUTER JOIN (SELECT *, 1 AS in_b FROM merged) m
              |    ON b.c_custkey IS NOT DISTINCT FROM m.c_custkey)
              |SELECT
              |  CAST(sum(CASE WHEN ia IS NULL THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_added,
              |  CAST(sum(CASE WHEN ib IS NULL THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_removed,
              |  CAST(sum(CASE WHEN ia IS NOT NULL AND ib IS NOT NULL
              |    AND (na IS DISTINCT FROM nb OR ba IS DISTINCT FROM bb)
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
              |  CAST(sum(CASE WHEN ia IS NOT NULL AND ib IS NOT NULL
              |    AND na IS NOT DISTINCT FROM nb
              |    AND ba IS NOT DISTINCT FROM bb
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
              |FROM j""".stripMargin)),

    Q("inc_profile_sketch",
      "The KMV profile maintained INCREMENTALLY at rest: three " +
        "disjoint lineitem batches each persist a per-column partial " +
        "(k-minimum-hash sketch + counts) under commit markers; the " +
        "serve merges cols x batches sketch ROWS — facts are never " +
        "rescanned. Because KMV merge is exact set algebra (the union " +
        "of per-batch k-minima contains the global k-minima; min-k " +
        "over partials EQUALS the one-pass sketch — a semilattice), " +
        "the served incremental ESTIMATE is hash-gated against the " +
        "oracle's single-pass replay — unlike inc_distinct's HLL, " +
        "which can only be tolerance-gated. The gated claim is " +
        "incremental == recompute, bit-for-bit, including the " +
        "estimating path on both high-cardinality keys.",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val path = scratch("graft_incprof", d)
        (0L to 2L).foreach { b =>
          graft.ops.IncrementalAgg.writeBatch(
            Profile.sketchProfilePartials(
              li.filter(col("l_orderkey") % 3 === b), ProfCols, SketchK),
            path, b)
        }
        Profile.serveSketchProfile(s, path, SketchK)
      },
      Some(kmvOracle(withMinMax = false)))
  )
}
