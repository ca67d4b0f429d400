package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.EntityResolution

/** Entity resolution (`er_*`) over the customer registry and a
  * deterministic dirty copy of it: blocking, matching, clustering and
  * golden-record survivorship.
  */
object ErQueries {

  /** The ER fixture: the clean customer registry plus a deterministic
    * dirty copy covering the edit classes a radius-1 resolver must
    * handle — a 1-in-30 slice of LAST-CHAR truncations (ambiguous:
    * such a name is one insertion from every clean key in its decade,
    * producing genuine multi-entity clusters), one-third mid-name
    * substitutions, one-third mid-name deletions (both unambiguous —
    * they edit the shared "Customer" prefix, so the only clean name
    * within distance 1 is the record's own source), and the rest exact
    * re-keys. The truncation share is deliberately small: real dirty
    * data has occasional ambiguous records, not a bridge per record —
    * and an all-truncation fixture chains every decade into one
    * mega-component whose diameter makes CC pay tens of rounds
    * (measured 65 s at sf0.1) while teaching nothing new. Dirty ids
    * live at +1,000,000 so the two id spaces never collide.
    */
  private val erSourceCtes: String =
    """clean AS (SELECT c_custkey AS id, c_name AS name FROM customer),
      |dirty AS (
      |  SELECT c_custkey + 1000000 AS id,
      |    CASE
      |      WHEN c_custkey % 30 = 1
      |        THEN substr(c_name, 1, length(c_name) - 1)
      |      WHEN c_custkey % 3 = 0
      |        THEN substr(c_name, 1, 5) || 'X' || substr(c_name, 7)
      |      WHEN c_custkey % 3 = 1
      |        THEN substr(c_name, 1, 5) || substr(c_name, 7)
      |      ELSE c_name END AS name
      |  FROM customer)""".stripMargin

  /** Deletion-neighborhood key CTEs only (ck/dk) — shared with the
    * capped-blocking oracle (`er_blocked_capped`), which filters the keys
    * before joining.
    */
  private val erKeyCtes: String =
    """ck AS (
      |  SELECT id, name, unnest(list_distinct(list_append(
      |    list_transform(generate_series(1, length(name)),
      |      i -> substr(name, 1, i - 1) || substr(name, i + 1, length(name))),
      |    name))) AS k
      |  FROM clean),
      |dk AS (
      |  SELECT id, name, unnest(list_distinct(list_append(
      |    list_transform(generate_series(1, length(name)),
      |      i -> substr(name, 1, i - 1) || substr(name, i + 1, length(name))),
      |    name))) AS k
      |  FROM dirty)""".stripMargin

  /** Deletion-neighborhood keys + verified radius-1 pairs, DuckDB side
    * (the EntityResolution.verifiedPairs mirror).
    */
  private val erPairCtes: String =
    erKeyCtes + """,
      |cand AS (
      |  SELECT DISTINCT d.id AS dirty_id, d.name AS dn,
      |                  c.id AS clean_id, c.name AS cn
      |  FROM dk d JOIN ck c USING (k)),
      |ver AS (
      |  SELECT dirty_id, clean_id,
      |    CAST(levenshtein(dn, cn) AS BIGINT) AS dist
      |  FROM cand WHERE levenshtein(dn, cn) <= 1)""".stripMargin

  /** Best-edge → recursive-reachability clustering over [[erPairCtes]]'
    * `ver` pairs, ending in `lab(id, cluster)` with singletons kept —
    * shared by er_cluster and er_golden (requires WITH RECURSIVE).
    */
  private val erClusterCtes: String =
    """best AS (
      |  SELECT dirty_id, clean_id FROM (
      |    SELECT dirty_id, clean_id,
      |      row_number() OVER (PARTITION BY dirty_id
      |        ORDER BY dist, clean_id) AS rn
      |    FROM ver)
      |  WHERE rn = 1),
      |edges AS (
      |  SELECT dirty_id AS src, clean_id AS dst FROM best
      |  UNION SELECT clean_id, dirty_id FROM best),
      |reach AS (
      |  SELECT src AS id, src AS lab FROM edges
      |  UNION
      |  SELECT e.dst AS id, r.lab FROM reach r
      |  JOIN edges e ON e.src = r.id),
      |cc AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
      |allv AS (
      |  SELECT id FROM clean UNION ALL SELECT id FROM dirty),
      |lab AS (
      |  SELECT v.id, coalesce(cc.cluster, v.id) AS cluster
      |  FROM allv v LEFT JOIN cc ON cc.id = v.id)""".stripMargin

  private def dirtyCustomers(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame =
    Tables.customer(s, d).select(
      (col("c_custkey") + 1000000L).as("id"),
      when(col("c_custkey") % 30 === 1,
        expr("substr(c_name, 1, length(c_name) - 1)"))
        .when(col("c_custkey") % 3 === 0,
          concat(expr("substr(c_name, 1, 5)"), lit("X"),
            expr("substr(c_name, 7)")))
        .when(col("c_custkey") % 3 === 1,
          concat(expr("substr(c_name, 1, 5)"), expr("substr(c_name, 7)")))
        .otherwise(col("c_name")).as("name"))

  private def cleanCustomers(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame =
    Tables.customer(s, d)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))

  /** maxBlockDf for the binding run. At 2, digit-neighborhood keys
    * (e.g. the last-digit deletion "Customer#00000001", shared by ~10
    * clean names and the ~3 exact-copy dirty records among them) are
    * stop-listed, and the truncation-slice pairs — whose ONLY shared
    * key is exactly such a key (the truncated name IS the clean name's
    * last-char-deletion key) — drop out: capped ≠ exact at both probe
    * scales, so a guard bug cannot hide behind the exact path.
    */
  private val CapDf = 2

  val all: Seq[Q] = Seq(

    Q("er_blocked",
      "Entity resolution (record linkage): a dirty record set — " +
        "mid-name substitutions/deletions, a truncation slice, exact " +
        "re-keys of the customer registry — resolved to its clean " +
        "entity via " +
        "FastSS deletion-neighborhood blocking (every string emits " +
        "itself + each single-char deletion; radius-1 pairs PROVABLY " +
        "share a key, so candidate generation is exact, never a cross " +
        "join), levenshtein<=1 verification, and a best-match aggregate " +
        "(min (dist, id) struct — no window). ~L+1 short keys per " +
        "record, one key equi-join, per-key fan-out bounded by actual " +
        "near-duplicate density.",
      (s, d) => EntityResolution.bestMatch(
        dirtyCustomers(s, d).withColumnRenamed("id", "dirty_id"), "dirty_id",
        cleanCustomers(s, d).withColumnRenamed("id", "clean_id"), "clean_id",
        "name"),
      Some(s"""WITH $erSourceCtes,
              |$erPairCtes,
              |best AS (
              |  SELECT dirty_id, clean_id, dist,
              |    row_number() OVER (PARTITION BY dirty_id
              |      ORDER BY dist, clean_id) AS rn
              |  FROM ver)
              |SELECT dirty_id, clean_id, dist FROM best WHERE rn = 1
              |ORDER BY dirty_id""".stripMargin)),

    Q("er_cluster",
      "Entity clustering, RESOLVE-THEN-GROUP: each dirty record " +
        "contributes its single best-match edge (with identifier-like " +
        "names every one-digit neighbor is a legitimate distance-1 " +
        "pair — clustering ALL verified edges chains unrelated " +
        "entities into mega-components, the false-merge failure mode " +
        "golden-record grouping exists to avoid), then connected " +
        "components groups records around their resolved entity, " +
        "unmatched records kept as singletons. A cluster is one clean " +
        "entity plus everything resolved to it — never two clean " +
        "entities merged. Oracle: recursive-CTE reachability over the " +
        "same best-edge list.",
      (s, d) => EntityResolution.clusters(
        dirtyCustomers(s, d).withColumnRenamed("id", "dirty_id"), "dirty_id",
        cleanCustomers(s, d).withColumnRenamed("id", "clean_id"), "clean_id",
        "name"),
      Some(s"""WITH RECURSIVE $erSourceCtes,
              |$erPairCtes,
              |$erClusterCtes
              |SELECT id, cluster,
              |  count(*) OVER (PARTITION BY cluster) AS cluster_size
              |FROM lab ORDER BY id""".stripMargin)),

    Q("er_golden",
      "Golden-record survivorship after entity resolution - the MDM " +
        "merge step: each er_cluster elects one canonical record by " +
        "the deterministic preference clean-source first, longest " +
        "name, lexicographically/id-greatest (a single struct-max, " +
        "the dedup_survivor argmax pattern - no per-cluster sort), " +
        "with membership counts beside it. One id-keyed attrs join + " +
        "one cluster-keyed aggregate; clusters-sized output.",
      (s, d) => EntityResolution.golden(
        dirtyCustomers(s, d).withColumnRenamed("id", "dirty_id"),
        "dirty_id",
        cleanCustomers(s, d).withColumnRenamed("id", "clean_id"),
        "clean_id", "name"),
      Some(s"""WITH RECURSIVE ${erSourceCtes},
              |${erPairCtes},
              |${erClusterCtes},
              |attrs AS (
              |  SELECT id, name, TRUE AS ic FROM clean
              |  UNION ALL SELECT id, name, FALSE FROM dirty),
              |m AS (
              |  SELECT l.cluster, a.id, a.name, a.ic
              |  FROM lab l JOIN attrs a USING (id)),
              |pick AS (
              |  SELECT cluster, id AS golden_id, name AS golden_name
              |  FROM (
              |    SELECT cluster, id, name,
              |      row_number() OVER (PARTITION BY cluster
              |        ORDER BY ic DESC, length(name) DESC, name DESC,
              |                 id DESC) AS rn
              |    FROM m) WHERE rn = 1)
              |SELECT m.cluster, count(*) AS n_members,
              |  CAST(sum(CASE WHEN m.ic THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_clean,
              |  any_value(p.golden_id) AS golden_id,
              |  any_value(p.golden_name) AS golden_name
              |FROM m JOIN pick p ON p.cluster = m.cluster
              |GROUP BY m.cluster ORDER BY m.cluster""".stripMargin)),

    Q("er_metrics",
      "Blocking-quality report for the deletion-neighborhood entity " +
        "resolution - the numbers that justify the blocking before " +
        "anyone trusts it at scale: record counts, the quadratic pair " +
        "space avoided (DECIMAL(38,0) - 1e9 x 1e9 sets don't " +
        "overflow), candidates generated, verified matches, matched " +
        "left records, reduction ratio and match rate. One aggregate " +
        "per relation, 1-row frames broadcast-crossed; the ratios are " +
        "the only doubles.",
      (s, d) => EntityResolution.blockingMetrics(
        dirtyCustomers(s, d).withColumnRenamed("id", "dirty_id"),
        "dirty_id",
        cleanCustomers(s, d).withColumnRenamed("id", "clean_id"),
        "clean_id", "name"),
      Some(s"""WITH ${erSourceCtes},
              |${erPairCtes},
              |nl AS (SELECT count(*) AS n_left FROM dirty),
              |nr AS (SELECT count(*) AS n_right FROM clean),
              |nc AS (SELECT count(*) AS n_candidates FROM cand),
              |nv AS (SELECT count(*) AS n_verified FROM ver),
              |nm AS (SELECT count(DISTINCT dirty_id) AS n_matched
              |       FROM ver)
              |SELECT n_left, n_right,
              |  CAST(CAST(n_left AS DECIMAL(38,0)) *
              |       CAST(n_right AS DECIMAL(38,0)) AS VARCHAR)
              |    AS n_possible,
              |  n_candidates, n_verified, n_matched,
              |  1.0 - CAST(n_candidates AS DOUBLE) /
              |    CAST(CAST(n_left AS DECIMAL(38,0)) *
              |         CAST(n_right AS DECIMAL(38,0)) AS DOUBLE)
              |    AS reduction_ratio,
              |  CAST(n_matched AS DOUBLE) / CAST(n_left AS DOUBLE)
              |    AS match_rate
              |FROM nl, nr, nc, nv, nm""".stripMargin)),

    Q("er_blocked_capped",
      "The hot-block guard of deletion-neighborhood ER blocking, made " +
        "to BIND: bestMatch with maxBlockDf = " + CapDf + " (production " +
        "guard for placeholder-name junk density — a key with document " +
        "frequency > cap on BOTH sides is stop-listed before the key " +
        "join, so per-key candidate volume keeps min(lc,rc) <= cap and " +
        "the total stays linear in corpus; the stop-list is bounded by " +
        "keys/cap and broadcast). Df is document frequency regardless " +
        "of input (deletionKeys dedups per record). Oracle replays the " +
        "per-side key counts, the both-sides-hot stop-list, and the " +
        "filtered join bit-for-bit.",
      (s, d) => EntityResolution.bestMatch(
        dirtyCustomers(s, d).withColumnRenamed("id", "dirty_id"),
        "dirty_id",
        cleanCustomers(s, d).withColumnRenamed("id", "clean_id"),
        "clean_id",
        "name", maxDist = 1, maxBlockDf = Some(CapDf.toLong)),
      Some(s"""WITH ${erSourceCtes},
              |${erKeyCtes},
              |hotk AS (
              |  SELECT k FROM
              |    (SELECT k, count(*) AS rc FROM ck GROUP BY k) c
              |    JOIN (SELECT k, count(*) AS lc FROM dk GROUP BY k) d
              |      USING (k)
              |  WHERE lc > $CapDf AND rc > $CapDf),
              |cand AS (
              |  SELECT DISTINCT d.id AS dirty_id, d.name AS dn,
              |                  c.id AS clean_id, c.name AS cn
              |  FROM (SELECT id, name, k FROM dk
              |        WHERE k NOT IN (SELECT k FROM hotk)) d
              |  JOIN (SELECT id, name, k FROM ck
              |        WHERE k NOT IN (SELECT k FROM hotk)) c USING (k)),
              |ver AS (
              |  SELECT dirty_id, clean_id,
              |    CAST(levenshtein(dn, cn) AS BIGINT) AS dist
              |  FROM cand WHERE levenshtein(dn, cn) <= 1),
              |best AS (
              |  SELECT dirty_id, clean_id, dist,
              |    row_number() OVER (PARTITION BY dirty_id
              |      ORDER BY dist, clean_id) AS rn
              |  FROM ver)
              |SELECT dirty_id, clean_id, dist FROM best WHERE rn = 1
              |ORDER BY dirty_id""".stripMargin))
  )
}
