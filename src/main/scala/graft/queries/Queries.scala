package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables
import graft.ops.Similarity

/** One named query: the Spark implementation plus (when SQL-expressible) the
  * equivalent ANSI SQL the driver runs in DuckDB (SURVEY.md §5.1). Queries
  * without an oracle get the driver's weaker rows-only check.
  */
final case class Q(
    name: String,
    doc: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Cross-engine determinism helpers (used by both the Spark side here and,
  * by construction, the DuckDB oracle texts):
  *
  *  - double aggregation: floating-point `sum()` is order-dependent, and
  *    Spark and DuckDB sum in different orders. Casting each addend to a
  *    wide decimal first makes the sum EXACT (order-independent), and the
  *    final cast back to double is then bit-identical in both engines.
  *  - hashing: `md5` produces identical hex in Spark, DuckDB, and Python —
  *    every hash-derived operator (fingerprints, stand-in classifier,
  *    minhash) is built on it.
  *  - every query ORDER BYs a total key so row order can never differ.
  */
object OracleCompat {
  /** Exact, order-independent sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(28, 8))).cast("double")

  /** Exact average: exact decimal sum / count, both sides compute the same
    * double division.
    */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** The md5-derived 0..15 label used by the deterministic classifier.
    * Spark side: `conv(hex_digit, 16, 10)`; DuckDB oracle side:
    * `instr('0123456789abcdef', hex_digit) - 1` — same value, bigint.
    */
  def md5Label(c: Column, numLabels: Int = 16): Column =
    conv(substring(md5(c), 1, 1), 16, 10).cast("long") % numLabels

  /** DuckDB restatement of Dedup.wordShingles. */
  private[queries] def wordShingleSql(c: String, n: Int): String = {
    val w = s"string_split_regex(trim($c), '\\s+')"
    s"list_distinct(list_transform(generate_series(1, greatest(len($w)-${n - 1},1)), " +
      s"i -> array_to_string(list_slice($w, i, i+${n - 1}), ' ')))"
  }

  /** DuckDB restatement of TextOps.cleanMsg. */
  private[queries] val cleanSql =
    """trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x1f]+', ' ', 'g'), '\s+', ' ', 'g'))"""

  /** DuckDB CTE list mirroring Dedup.minhashCandidates' signature + band
    * stages (2 bands × 3 rows over word 5-gram shingles) — shared by the
    * dedup_minhash and dedup_cluster oracles.
    */
  private[queries] def minhashBandCtes: String = {
    def slice(i: Int) = s"substr(md5(s), ${i * 5 + 1}, 5)"
    val mhs = (0 until 6).map(i =>
      s"list_min(list_transform(${wordShingleSql("text", 5)}, s -> ${slice(i)})) AS mh$i")
      .mkString(",\n    ")
    val bands = (0 until 2).map(b =>
      s"SELECT doc_id, $b AS band, mh${3 * b} || mh${3 * b + 1} || mh${3 * b + 2} AS h FROM sig")
      .mkString("\n  UNION ALL ")
    s"""sig AS (
       |  SELECT doc_id,
       |    $mhs
       |  FROM documents),
       |bands AS (
       |  $bands)""".stripMargin
  }

  /** [[minhashBandCtes]] plus the band-frequency-capped pair stage,
    * mirroring Dedup.minhashCandidates' maxBandDf guard: band groups of
    * ≤`cap` docs emit all pairs, larger groups emit the id-ordered chain.
    * Produces `pairs(id_a, id_b, band)` — one row per (band, pair).
    * The default cap 256 is the production guard (dedup_minhash);
    * dedup_minhash_capped re-uses the same CTE at cap 1 so the chain path
    * BINDS under an oracle at fixture scale.
    */
  private[queries] def minhashPairCtes: String = minhashPairCtes(256)

  private[queries] def minhashPairCtes(cap: Int): String =
    s"""$minhashBandCtes,
       |bf AS (
       |  SELECT doc_id, band, h, count(*) OVER (PARTITION BY band, h) AS df_b
       |  FROM bands),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.band
       |  FROM bf a JOIN bf b
       |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
       |  WHERE a.df_b <= $cap AND b.df_b <= $cap
       |  UNION ALL
       |  SELECT id_a, id_b, band FROM (
       |    SELECT doc_id AS id_a,
       |           lead(doc_id) OVER (PARTITION BY band, h ORDER BY doc_id) AS id_b,
       |           band
       |    FROM bf WHERE df_b > $cap)
       |  WHERE id_b IS NOT NULL)""".stripMargin

  private[queries] val piiSql =
    "text || ' contact user' || doc_id || '@example.com ref ' || " +
      "(doc_id * 1234567 + 8000000) || ' ssn 123-45-6789'"

  // DuckDB restatements of Curation's Java-regex patterns (single-quoted,
  // so backslashes survive; RE2 and java.util.regex agree on these).
  private[queries] val emailSql = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[queries] val ssnSql = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  private[queries] val numSql = "\\b\\d{6,}\\b"

  /** The trained k-means quantizer's parameters (clusters, Lloyd updates,
    * embedding width), shared by the Spark calls and [[kmeansCtesOn]].
    */
  private[queries] val KmeansK = 4      // clusters
  private[queries] val KmeansIters = 2  // Lloyd updates
  private[queries] val KmeansDims = 64

  /** DuckDB restatement of Dedup.dotExact over index i (1-based). */
  private[queries] def dotSql(a: String, b: String): String =
    s"cast(sum(cast($a[i]::DOUBLE * $b[i]::DOUBLE AS DECIMAL(38,14))) AS DOUBLE)"

  /** The unrolled Lloyd chain: seeds (min-id vectors) → c0 (per-dim
    * centroid rows) → for each iteration n: d{n} (decimal-exact squared
    * L2 per vector×cluster), a{n} (argmin, ties to lowest cluster),
    * u{n} (decimal-exact per-dim means), c{n} (carry previous centroid
    * forward for clusters that lost all members — mirrors
    * [[Similarity.kmeansCentroids]]). Exposes c$KmeansIters (final centroids)
    * and the final assignment a${KmeansIters+1}.
    *
    * `trainRel` is the relation Lloyd's trains on — seeds, per-iteration
    * assignments and means all read it; the FINAL assignment pass runs
    * over `assignRel`, defaulting to the full `embeddings` table (the
    * [[Similarity.kmeansAssign]] `train=` contract: train on a sample,
    * assign the corpus). Callers training on a SLICED sub-relation
    * (e.g. a 16-dim subspace) must pass `assignRel` explicitly — the
    * default's 64-dim rows against sliced centroids would silently
    * compute prefix distances (list indexing past a short list reads
    * NULL, no SQL error) if the final-assignment CTE were referenced.
    * That contract is ENFORCED, not just documented: a sliced chain
    * (dims ≠ $KmeansDims) refuses the `embeddings` default at construction
    * time — sliced callers must name their assignment relation.
    */
  private[queries] def kmeansCtesOn(trainRel: String, k: Int = KmeansK,
                                    prefix: String = "", iters: Int = KmeansIters,
                                    assignRel: String = "",
                                    dims: Int = KmeansDims): String = {
    require(assignRel.nonEmpty || dims == KmeansDims,
      s"kmeansCtesOn(dims=$dims): a sliced chain cannot default its " +
        s"final-assignment relation to the $KmeansDims-dim `embeddings` table " +
        "(prefix-distance hazard) — pass assignRel explicitly")
    val assignRelResolved = if (assignRel.nonEmpty) assignRel else "embeddings"
    val seed =
      s"""${prefix}seeds AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster,
         |         embedding
         |  FROM (SELECT vec_id, embedding FROM $trainRel ORDER BY vec_id LIMIT $k)),
         |${prefix}c0 AS (
         |  SELECT cluster, i, embedding[i]::DOUBLE AS c
         |  FROM ${prefix}seeds, generate_series(1, $dims) g(i))""".stripMargin
    def step(n: Int, withUpdate: Boolean): String = {
      val prev = s"${prefix}c${n - 1}"
      // training iterations assign the training relation; the final
      // (no-update) pass assigns the full corpus
      val rel = if (withUpdate) trainRel else assignRelResolved
      val dist =
        s"""${prefix}d$n AS (
           |  SELECT e.vec_id, c.cluster,
           |    cast(sum(cast((e.embedding[c.i]::DOUBLE - c.c) * (e.embedding[c.i]::DOUBLE - c.c)
           |         AS DECIMAL(38,14))) AS DOUBLE) AS d
           |  FROM $rel e, $prev c
           |  GROUP BY e.vec_id, c.cluster),
           |${prefix}a$n AS (
           |  SELECT vec_id, cluster FROM ${prefix}d$n
           |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1)""".stripMargin
      if (!withUpdate) dist
      else dist + "," + System.lineSeparator() +
        s"""${prefix}u$n AS (
           |  SELECT a.cluster, g.i,
           |    cast(sum(cast(e.embedding[g.i]::DOUBLE AS DECIMAL(38,14))) AS DOUBLE)
           |      / count(*) AS c
           |  FROM $trainRel e JOIN ${prefix}a$n a USING (vec_id),
           |       generate_series(1, $dims) g(i)
           |  GROUP BY a.cluster, g.i),
           |${prefix}c$n AS (
           |  SELECT p.cluster, p.i, coalesce(u.c, p.c) AS c
           |  FROM $prev p LEFT JOIN ${prefix}u$n u ON u.cluster = p.cluster AND u.i = p.i)""".stripMargin
    }
    (seed +: (1 to iters + 1).map(n => step(n, withUpdate = n <= iters)))
      .mkString("," + System.lineSeparator())
  }

  private[queries] val kmeansCtes: String = kmeansCtesOn("embeddings")

  /** The IVF probe as CTEs over the trained chain (expects the
    * [[kmeansCtesOn]] CTEs in scope): query vector + norm, centroid
    * cosines against the final iteration's centroids, the nprobe
    * shortlist, per-vector norms and query dots. Shared by
    * sim_ivf_trained's and sim_recall's oracles so the probe math can
    * never drift between the two restatements.
    */
  private[queries] def ivfProbeCtes(nprobe: Int): String =
    s"""q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |nq AS (
       |  SELECT sqrt(${dotSql("qe", "qe")}) AS nrm
       |  FROM q, generate_series(1, $KmeansDims) g(i)),
       |cdot AS (
       |  SELECT c.cluster,
       |    cast(sum(cast(c.c * q.qe[c.i]::DOUBLE AS DECIMAL(38,14))) AS DOUBLE) AS dot,
       |    sqrt(cast(sum(cast(c.c * c.c AS DECIMAL(38,14))) AS DOUBLE)) AS cn
       |  FROM c$KmeansIters c, q GROUP BY c.cluster),
       |short AS (
       |  SELECT cluster FROM cdot, nq
       |  ORDER BY dot / (cn * nq.nrm) DESC, cluster LIMIT $nprobe),
       |ne AS (
       |  SELECT vec_id, sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings, generate_series(1, $KmeansDims) g(i) GROUP BY vec_id),
       |dots AS (
       |  SELECT e.vec_id, ${dotSql("e.embedding", "q.qe")} AS dot
       |  FROM embeddings e, q, generate_series(1, $KmeansDims) g(i)
       |  GROUP BY e.vec_id)""".stripMargin

  /** The ta_quality quality-score expression over a text column `c`,
    * emitted as a scalar SQL expression (the established feature mix:
    * length, punctuation ratio, stopword ratio).
    */
  private[queries] def qualitySql(c: String): String =
    s"""(least(length($c) / 500.0::DOUBLE, 1.0::DOUBLE) * 0.4::DOUBLE
       |  + (1.0::DOUBLE -
       |     CASE WHEN length($c) = 0 THEN 0.0::DOUBLE
       |          ELSE length(regexp_replace($c, '[A-Za-z0-9\\s]', '', 'g'))
       |               / length($c) END) * 0.3::DOUBLE
       |  + least((CASE WHEN (CASE WHEN trim($c) = '' THEN 0
       |                 ELSE len(string_split_regex(trim($c), '\\s+')) END) = 0
       |           THEN 0.0::DOUBLE
       |           ELSE (((length($c) - length(replace($c, ' the ', ''))) / 5::DOUBLE
       |                  + (length($c) - length(replace($c, ' a ', ''))) / 3::DOUBLE))
       |                / (CASE WHEN trim($c) = '' THEN 0
       |                   ELSE len(string_split_regex(trim($c), '\\s+')) END) END)
       |          * 4.0::DOUBLE, 1.0::DOUBLE) * 0.3::DOUBLE)""".stripMargin

  /** The BM25 query terms of every lexical-retrieval query. */
  private[queries] val QueryTerms = Seq("dup", "spark", "vector")

  /** The ta_bm25 oracle parameterized by a corpus predicate: BM25 with
    * the log-free Robertson idf over `documents WHERE <pred>` — the
    * rebuild-equivalence definition the lifecycle queries are gated on.
    */
  private[queries] def bm25Sql(pred: String): String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |                x -> x <> '') AS ws
       |  FROM documents
       |  WHERE $pred),
       |stats AS (
       |  SELECT cast(sum(len(ws)) AS DOUBLE) / count(*) AS avgdl,
       |         count(*) AS n
       |  FROM base),
       |tf AS (
       |  SELECT doc_id, dl, t, count(*) AS tf FROM (
       |    SELECT doc_id, len(ws) AS dl, unnest(ws) AS t FROM base)
       |  WHERE t IN ('dup', 'spark', 'vector')
       |  GROUP BY 1, 2, 3),
       |dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY 1)
       |SELECT doc_id, count(*) AS n_terms,
       |  cast(floor(sum(cast(
       |    ((cast(n AS DOUBLE) - cast(df AS DOUBLE) + 0.5) /
       |     (cast(df AS DOUBLE) + 0.5)) *
       |    ((cast(tf AS DOUBLE) * 2.2) /
       |     (cast(tf AS DOUBLE) +
       |      1.2 * (1.0 - 0.75 + 0.75 * cast(dl AS DOUBLE) / avgdl)))
       |    AS DECIMAL(38,14))) * 1000000
       |    + cast(0.5 AS DECIMAL(38,14))) AS DOUBLE)
       |    / 1000000.0 AS score
       |FROM tf JOIN dfq USING (t) CROSS JOIN stats
       |GROUP BY doc_id
       |ORDER BY score DESC, doc_id
       |LIMIT 15""".stripMargin

  /** Exact-rescore tail shared by every ADC-family oracle: score the
    * `short` candidates with the decimal-exact cosine, final top-10.
    */
  private[queries] lazy val rescoreTail: String =
    s"""dots AS (
       |  SELECT e.vec_id, ${dotSql("e.embedding", "q.qe")} AS dot
       |  FROM embeddings e JOIN short s ON s.vec_id = e.vec_id, q,
       |       generate_series(1, 64) g(i)
       |  GROUP BY e.vec_id)
       |SELECT d.vec_id, d.dot / (ne.nrm * nqe.nrm) AS cos_sim
       |FROM dots d JOIN ne ON d.vec_id = ne.vec_id, nqe
       |ORDER BY cos_sim DESC, d.vec_id
       |LIMIT 10""".stripMargin

  /** The IVFADC oracle chain with the TRAINING relations parameterized
    * (SimQueries' `ivfAdcChain` is the `embeddings`-trained case) — the
    * oracle restatement of the frozen-quantizer append path: the coarse
    * quantizer trains on `coarseTrainRel` (caller defines that CTE),
    * the residual codebooks train on the residuals of rows matching
    * `bookTrainPred`, and assignment/encoding/probing still cover the
    * FULL corpus — exactly the union a build-then-append layout serves.
    * `servePred` restricts which rows the index SERVES (the tombstone
    * filter of a delete/compact lifecycle) without touching training:
    * deleted rows still shaped the quantizers, they just never reach
    * the ADC shortlist — exactly what a tombstoned/compacted layout
    * computes.
    */
  private[queries] def ivfAdcChainOn(coarseTrainRel: String,
                                     bookTrainPred: Option[String],
                                     servePred: Option[String] = None): String = {
        val M = 4; val SUB = 16
        val coarseChain = kmeansCtesOn(coarseTrainRel, k = 4,
          prefix = "pc_", iters = 1, dims = 64)
        val residTr = bookTrainPred.map(p => s""",
           |residtr AS (
           |  SELECT vec_id, coarse, embedding FROM resid WHERE $p)""".stripMargin)
          .getOrElse("")
        val residChains = (0 until M).map { s =>
          val trainCte = bookTrainPred.map(_ => s"""rsubtr$s AS (
             |  SELECT vec_id, embedding[${s * SUB + 1}:${(s + 1) * SUB}] AS embedding
             |  FROM residtr),
             |""".stripMargin).getOrElse("")
          val trainRel =
            if (bookTrainPred.isDefined) s"rsubtr$s" else s"rsub$s"
          s"""rsub$s AS (
             |  SELECT vec_id, embedding[${s * SUB + 1}:${(s + 1) * SUB}] AS embedding
             |  FROM resid),
             |$trainCte${kmeansCtesOn(trainRel, k = 8, prefix = s"r${s}_",
                iters = 1, assignRel = trainRel, dims = SUB)},
             |rcq$s AS (
             |  SELECT cluster, i, cast(cast(c AS DECIMAL(38,9)) AS DOUBLE) AS c
             |  FROM r${s}_c1),
             |rdq$s AS (
             |  SELECT e.vec_id, c.cluster,
             |    cast(sum(cast((e.embedding[c.i]::DOUBLE - c.c) * (e.embedding[c.i]::DOUBLE - c.c)
             |         AS DECIMAL(38,14))) AS DOUBLE) AS d
             |  FROM rsub$s e, rcq$s c GROUP BY e.vec_id, c.cluster),
             |raq$s AS (
             |  SELECT vec_id, cluster FROM rdq$s
             |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1),
             |rca$s AS (
             |  SELECT cluster, list(c ORDER BY i) AS cv FROM rcq$s GROUP BY cluster),
             |rtb$s AS (
             |  SELECT cluster,
             |    list_reduce(list_transform(generate_series(1, $SUB),
             |      i -> q.qe[${s * SUB} + i]::DOUBLE * cv[i]), (x, y) -> x + y) AS td,
             |    list_reduce(list_transform(generate_series(1, $SUB),
             |      i -> cv[i] * cv[i]), (x, y) -> x + y) AS tn
             |  FROM rca$s, q),
             |xx$s AS (
             |  SELECT cc.cluster AS ccl, b.cluster AS code,
             |    list_reduce(list_transform(generate_series(1, $SUB),
             |      i -> cc.cv[${s * SUB} + i] * b.cv[i]), (x, y) -> x + y) AS x
             |  FROM cac cc, rca$s b)""".stripMargin
        }.mkString("," + "\n")
        s"""q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |nqv AS (
           |  SELECT sqrt(list_reduce(list_transform(generate_series(1, 64),
           |    i -> qe[i]::DOUBLE * qe[i]::DOUBLE), (x, y) -> x + y)) AS nq
           |  FROM q),
           |$coarseChain,
           |cqc AS (
           |  SELECT cluster, i, cast(cast(c AS DECIMAL(38,9)) AS DOUBLE) AS c
           |  FROM pc_c1),
           |dqc AS (
           |  SELECT e.vec_id, c.cluster,
           |    cast(sum(cast((e.embedding[c.i]::DOUBLE - c.c) * (e.embedding[c.i]::DOUBLE - c.c)
           |         AS DECIMAL(38,14))) AS DOUBLE) AS d
           |  FROM embeddings e, cqc c GROUP BY e.vec_id, c.cluster),
           |aqc AS (
           |  SELECT vec_id, cluster FROM dqc
           |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1),
           |cac AS (
           |  SELECT cluster, list(c ORDER BY i) AS cv FROM cqc GROUP BY cluster),
           |qcv AS (
           |  SELECT cluster,
           |    list_reduce(list_transform(generate_series(1, 64),
           |      i -> q.qe[i]::DOUBLE * cv[i]), (x, y) -> x + y) AS qc
           |  FROM cac, q),
           |cnv AS (
           |  SELECT cluster,
           |    list_reduce(list_transform(generate_series(1, 64),
           |      i -> cv[i] * cv[i]), (x, y) -> x + y) AS cn2
           |  FROM cac),
           |cshort AS (
           |  SELECT c.cluster FROM qcv c JOIN cnv n USING (cluster), nqv
           |  ORDER BY c.qc / (sqrt(n.cn2) * nqv.nq) DESC, c.cluster LIMIT 2),
           |resid AS (
           |  SELECT e.vec_id, a.cluster AS coarse,
           |    list_transform(generate_series(1, 64),
           |      i -> e.embedding[i]::DOUBLE - ca.cv[i]) AS embedding
           |  FROM embeddings e
           |  JOIN aqc a USING (vec_id)
           |  JOIN cac ca ON ca.cluster = a.cluster)$residTr,
           |$residChains,
           |scores AS (
           |  SELECT r.vec_id,
           |    (qcv.qc + t0.td + t1.td + t2.td + t3.td) /
           |    (sqrt(cnv.cn2 + (2 * x0.x + t0.tn) + (2 * x1.x + t1.tn)
           |          + (2 * x2.x + t2.tn) + (2 * x3.x + t3.tn)) * nqv.nq) AS approx
           |  FROM resid r
           |  JOIN raq0 a0 ON a0.vec_id = r.vec_id
           |  JOIN raq1 a1 ON a1.vec_id = r.vec_id
           |  JOIN raq2 a2 ON a2.vec_id = r.vec_id
           |  JOIN raq3 a3 ON a3.vec_id = r.vec_id
           |  JOIN qcv ON qcv.cluster = r.coarse
           |  JOIN cnv ON cnv.cluster = r.coarse
           |  JOIN rtb0 t0 ON t0.cluster = a0.cluster
           |  JOIN rtb1 t1 ON t1.cluster = a1.cluster
           |  JOIN rtb2 t2 ON t2.cluster = a2.cluster
           |  JOIN rtb3 t3 ON t3.cluster = a3.cluster
           |  JOIN xx0 x0 ON x0.ccl = r.coarse AND x0.code = a0.cluster
           |  JOIN xx1 x1 ON x1.ccl = r.coarse AND x1.code = a1.cluster
           |  JOIN xx2 x2 ON x2.ccl = r.coarse AND x2.code = a2.cluster
           |  JOIN xx3 x3 ON x3.ccl = r.coarse AND x3.code = a3.cluster, nqv
           |  WHERE r.coarse IN (SELECT cluster FROM cshort)${
             servePred.map(p => s"\n    AND ($p)").getOrElse("")}),
           |short AS (SELECT vec_id FROM scores ORDER BY approx DESC, vec_id LIMIT 50),
           |nqe AS (
           |  SELECT sqrt(${dotSql("qe", "qe")}) AS nrm
           |  FROM q, generate_series(1, 64) g(i)),
           |ne AS (
           |  SELECT vec_id, sqrt(${dotSql("embedding", "embedding")}) AS nrm
           |  FROM embeddings, generate_series(1, 64) g(i) GROUP BY vec_id)""".stripMargin
  }

  /** The shared oracle for every "train on the base slice, serve the
    * union" IVFADC layout: the parameterized ADC chain with coarse +
    * codebook training restricted to `vec_id % 4 <> 1`, full-corpus
    * assignment/encoding, and the exact rescore tail.
    */
  private[queries] lazy val adcAppendOracle: String =
    s"""WITH tr AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 <> 1),
       |${ivfAdcChainOn("tr", Some("vec_id % 4 <> 1"))},
       |${rescoreTail}""".stripMargin

  /** Shared by ev_active_users_sketch and stream_active_users: the
    * exact coverage-expansion counts with the always-true gate column
    * (the ev_sketch bounded-error pattern).
    */
  private[queries] val activeUsersSketchOracle: String =
    """WITH daily AS (
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
      |  count(*) AS active_users, true AS hll_within_tol
      |FROM clipped
      |GROUP BY w, cover
      |ORDER BY window_days, day""".stripMargin

  /** Shared by cdc_upsert and stream_upsert: the latest-wins apply
    * of [[QueryFixtures.upsertChanges]] replayed in SQL.
    */
  private[queries] val upsertCtes: String =
    """base AS (
      |  SELECT c_custkey, c_name, c_acctbal FROM customer),
      |ch AS (
      |  SELECT c_custkey, 'UPDATED_' || c_name AS c_name,
      |    c_acctbal + 10.0 AS c_acctbal, 'U' AS op, 1 AS seq
      |  FROM base WHERE c_custkey % 5 = 0
      |  UNION ALL
      |  SELECT c_custkey, 'UPDATED2_' || c_name,
      |    c_acctbal + 20.0, 'U', 2
      |  FROM base WHERE c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_acctbal, 'D', 3
      |  FROM base WHERE c_custkey % 7 = 3
      |  UNION ALL
      |  SELECT c_custkey + 1000000, 'NEW_' || c_name,
      |    c_acctbal, 'I', 1
      |  FROM base),
      |latest AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY c_custkey
      |      ORDER BY seq DESC) AS rn
      |    FROM ch) WHERE rn = 1),
      |merged AS (
      |  SELECT b.c_custkey, b.c_name, b.c_acctbal FROM base b
      |  WHERE b.c_custkey NOT IN (SELECT c_custkey FROM latest)
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_acctbal FROM latest
      |  WHERE op <> 'D')""".stripMargin

  private[queries] val upsertOracle: String =
    s"""WITH $upsertCtes
      |SELECT c_custkey, c_name, c_acctbal FROM merged
      |ORDER BY c_custkey""".stripMargin

  private[queries] val GraphK = 5 // kNN-graph out-degree
  private[queries] val GraphBeam = 24
  private[queries] val GraphHops = 4

  /** Oracle CTE: the same synthetic URLs (`u`) and their canonical
    * forms (`canon`), restating UrlOps.canonicalizeUrl step by step.
    * DuckDB regexp_replace is first-match-only, hence the explicit 'g'
    * on the slash-collapse; replacement backrefs are `\1` (RE2) where
    * Spark writes `$1` — same pattern, dialect replacement syntax.
    */
  private[queries] val urlCtes: String =
    """u AS (
      |  SELECT doc_id, n_chars,
      |    CASE CAST(doc_id % 6 AS INT)
      |      WHEN 0 THEN 'https://www.' || source || '.example.com/a/' ||
      |        CAST(doc_id % 40 AS VARCHAR) || '?utm_source=feed&b=2&a=1#sec'
      |      WHEN 1 THEN 'HTTPS://' || upper(source) ||
      |        '.Example.COM:443/a//' || CAST(doc_id % 40 AS VARCHAR) ||
      |        '/?a=1&b=2'
      |      WHEN 2 THEN 'https://' || source || '.example.com/a/' ||
      |        CAST(doc_id % 40 AS VARCHAR) || '?b=2&utm_campaign=' ||
      |        CAST(doc_id AS VARCHAR) || '&a=1'
      |      WHEN 3 THEN 'http://www.' || source || '.example.com:80/a/' ||
      |        CAST(doc_id % 40 AS VARCHAR) || '?a=1&b=2'
      |      WHEN 4 THEN 'https://www.' || source || '.example.com:443//a/' ||
      |        CAST(doc_id % 40 AS VARCHAR) || '#x'
      |      ELSE 'https://' || source || '.example.com/a/' ||
      |        CAST(doc_id % 40 AS VARCHAR) || '/?fbclid=' ||
      |        CAST(doc_id AS VARCHAR) || '&a=1&b=2'
      |    END AS url
      |  FROM documents),
      |pu AS (
      |  SELECT doc_id, n_chars, url,
      |    regexp_replace(url, '#.*$', '') AS nf
      |  FROM u),
      |pp AS (
      |  SELECT doc_id, n_chars, url,
      |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |      AS scheme,
      |    regexp_replace(
      |      lower(regexp_extract(nf,
      |        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
      |      '^www\.', '') AS bare,
      |    regexp_extract(nf,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
      |  FROM pu),
      |pq AS (
      |  SELECT doc_id, n_chars, url, scheme,
      |    CASE WHEN scheme = 'https' THEN regexp_replace(bare, ':443$', '')
      |         WHEN scheme = 'http' THEN regexp_replace(bare, ':80$', '')
      |         ELSE bare END AS host,
      |    regexp_replace(
      |      regexp_replace(regexp_extract(rest, '^([^?]*)', 1),
      |        '/{2,}', '/', 'g'),
      |      '(.+)/$', '\1') AS path0,
      |    coalesce(array_to_string(list_sort(list_filter(
      |      string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
      |      x -> NOT regexp_matches(x,
      |        '^(utm_[^=]*|fbclid|gclid|msclkid|ref)=') AND x <> '')),
      |      '&'), '') AS kept
      |  FROM pp),
      |canon AS (
      |  SELECT doc_id, n_chars, url,
      |    scheme || '://' || host ||
      |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
      |    (CASE WHEN kept = '' THEN '' ELSE '?' || kept END) AS canonical
      |  FROM pq)""".stripMargin

  /** Shared by ev_abtest and stream_abtest (stream == batch): the full
    * 2×2 experiment readout in exact arithmetic.
    */
  private[queries] val abtestSql: String =
    """WITH uu AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS expo,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS conv
      |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      |e AS (SELECT user_id % 2 AS v, conv FROM uu WHERE expo = 1),
      |c AS (
      |  SELECT
      |    CAST(coalesce(sum(CASE WHEN v = 0 THEN 1 END), 0)
      |      AS BIGINT) AS n_a,
      |    CAST(coalesce(sum(CASE WHEN v = 0 THEN conv END), 0)
      |      AS BIGINT) AS conv_a,
      |    CAST(coalesce(sum(CASE WHEN v <> 0 THEN 1 END), 0)
      |      AS BIGINT) AS n_b,
      |    CAST(coalesce(sum(CASE WHEN v <> 0 THEN conv END), 0)
      |      AS BIGINT) AS conv_b
      |  FROM e),
      |x AS (
      |  SELECT n_a, conv_a, n_b, conv_b,
      |    CAST(conv_a AS DECIMAL(38,0)) AS a,
      |    CAST(n_a - conv_a AS DECIMAL(38,0)) AS b,
      |    CAST(conv_b AS DECIMAL(38,0)) AS c2,
      |    CAST(n_b - conv_b AS DECIMAL(38,0)) AS d2,
      |    CAST(n_a + n_b AS DECIMAL(38,0)) AS nn
      |  FROM c)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
      |  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
      |  CASE WHEN (a+b)*(c2+d2)*(a+c2)*(b+d2) > 0 THEN
      |    CAST(nn AS DOUBLE) *
      |    CAST((a*d2 - b*c2)*(a*d2 - b*c2) AS DOUBLE) /
      |    CAST((a+b)*(c2+d2)*(a+c2)*(b+d2) AS DOUBLE)
      |  ELSE 0e0 END AS chi2
      |FROM x""".stripMargin

  /** KMV size for dq_profile_sketch and dq_drift_sketch: small enough
    * that l_orderkey and l_partkey bind the estimating path at sf0.01
    * (15k / 2k distinct), large enough for ~6% expected RSE.
    */
  private[queries] val SketchK = 256

  /** The lineitem columns the sketch profile and drift queries read. */
  private[queries] val ProfCols = Seq("l_orderkey", "l_partkey", "l_linenumber",
    "l_returnflag", "l_linestatus")

  /** Single-pass DuckDB replay of the KMV profile over lineitem — the
    * oracle for BOTH the one-pass query and the incremental serve
    * (whose merge algebra makes them bit-identical).
    */
  private[queries] def kmvOracle(withMinMax: Boolean): String = {
    val k = SketchK
    val rse = 1.0 / math.sqrt(k - 2.0)
    val ctes = ProfCols.map { c =>
      s"""h_$c AS (
         |  SELECT DISTINCT ('0x' || substring(md5($c::VARCHAR), 1, 13))::BIGINT AS h
         |  FROM lineitem WHERE $c IS NOT NULL),
         |sk_$c AS (
         |  SELECT (SELECT count(*) FROM (SELECT h FROM h_$c ORDER BY h LIMIT $k)) AS nsk,
         |         (SELECT max(h) FROM (SELECT h FROM h_$c ORDER BY h LIMIT $k)) AS hk)""".stripMargin
    }.mkString(",\n")
    val minMax = (c: String) =>
      if (withMinMax)
        s"""|  (SELECT min($c)::VARCHAR FROM lineitem) AS min_s,
            |  (SELECT max($c)::VARCHAR FROM lineitem) AS max_s,
            |""".stripMargin
      else "\n"
    val rows = ProfCols.map { c =>
      s"""SELECT '$c' AS col_name,
         |  (SELECT count($c) FROM lineitem) AS n_nonnull,
         |  CASE WHEN nsk < $k THEN nsk::DOUBLE
         |       ELSE ${(k - 1).toDouble} / (hk / 4503599627370496.0)
         |       END AS n_distinct_est,
         |  nsk < $k AS est_is_exact,
         |  $rse AS est_rse,
         |${minMax(c)}  (SELECT count(*) FROM lineitem) AS n_rows
         |FROM sk_$c""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $ctes\n$rows\nORDER BY col_name"
  }

  /** The ev_funnel_n oracle; stream_funnel is checked against it too. */
  private[queries] val funnelNOracle: String =
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS t FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id, min(e.ts) AS t
      |  FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
      |s3 AS (
      |  SELECT e.user_id, min(e.ts) AS t
      |  FROM events e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
      |s4 AS (
      |  SELECT e.user_id, min(e.ts) AS t
      |  FROM events e JOIN s3 USING (user_id)
      |  WHERE e.event_type = 'view' AND e.ts > s3.t GROUP BY 1),
      |s5 AS (
      |  SELECT e.user_id, min(e.ts) AS t
      |  FROM events e JOIN s4 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s4.t GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 1 AS stage_idx, 'signup' AS stage,
      |         (SELECT count(*) FROM s1) AS n_users
      |  UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
      |  UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
      |  UNION ALL SELECT 4, 'view', (SELECT count(*) FROM s4)
      |  UNION ALL SELECT 5, 'purchase', (SELECT count(*) FROM s5))
      |ORDER BY stage_idx""".stripMargin

  /** The dq_drift oracle; stream_drift's serve is checked against it too. */
  private[queries] val driftOracle: String =
    s"""WITH t AS (
       |  SELECT cast(least(greatest(floor((${qualitySql("text")}) * 16),
       |                    0.0::DOUBLE), 15.0::DOUBLE) AS INTEGER) AS bucket,
       |         doc_id % 2 AS half
       |  FROM documents),
       |h AS (
       |  SELECT bucket,
       |    cast(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
       |    cast(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
       |  FROM t GROUP BY bucket),
       |tot AS (
       |  SELECT cast(sum(ref_n) AS BIGINT) AS nr,
       |         cast(sum(cur_n) AS BIGINT) AS nc FROM h)
       |SELECT bucket, ref_n, cur_n,
       |  CASE WHEN ref_n > 0 THEN
       |    (cast(cur_n AS DOUBLE) -
       |      cast(ref_n AS DOUBLE) * (cast(nc AS DOUBLE) / cast(nr AS DOUBLE))) *
       |    (cast(cur_n AS DOUBLE) -
       |      cast(ref_n AS DOUBLE) * (cast(nc AS DOUBLE) / cast(nr AS DOUBLE))) /
       |    (cast(ref_n AS DOUBLE) * (cast(nc AS DOUBLE) / cast(nr AS DOUBLE)))
       |  ELSE NULL END AS chi2_contrib
       |FROM h, tot
       |ORDER BY bucket NULLS LAST""".stripMargin
}

/** Spark-side fixtures shared by more than one query family. */
object QueryFixtures {

  /** Synthesized PII column: the fixture text carries no emails/ids, so
    * the query plants deterministic ones (derived from doc_id) — the
    * redaction operator then has real matches to scrub, and the oracle
    * can plant the identical values.
    */
  private[queries] def piiText = concat(col("text"),
    lit(" contact user"), col("doc_id"), lit("@example.com ref "),
    (col("doc_id") * 1234567L + 8000000L).cast("string"),
    lit(" ssn 123-45-6789"))

  /** Deterministic per-dataset scratch path for a query's at-rest state
    * (`<tmpdir>/<prefix>_<d with non-alphanumerics as _>`), overwritten
    * by each run.
    */
  private[queries] def scratch(prefix: String, d: String): String =
    sys.props.getOrElse("java.io.tmpdir", "/tmp") +
      "/" + prefix + "_" + d.replaceAll("[^A-Za-z0-9.]", "_")

  /** The BASE-slice-trained IVFADC quantizer pair (coarse centroids +
    * residual codebooks over `vec_id % 4 <> 1`), memoized per dataset
    * dir: sim_ivfadc_append and stream_ivfadc build the same batch-0
    * layout, so they share one training.
    */
  private val baseCoarseCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Double]]]()

  private val baseBooksCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Seq[Double]]]]()

  private[queries] def baseSlice(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d).filter(col("vec_id") % 4 =!= 1)

  private[queries] def baseCoarse(s: org.apache.spark.sql.SparkSession,
                         d: String): Seq[Seq[Double]] =
    baseCoarseCache.computeIfAbsent(d, _ => Similarity.kmeansQuantized(
      baseSlice(s, d), "vec_id", "embedding", 4, 1))

  private[queries] def baseBooks(s: org.apache.spark.sql.SparkSession,
                        d: String): Seq[Seq[Seq[Double]]] =
    baseBooksCache.computeIfAbsent(d, _ => Similarity.residualBooks(
      baseSlice(s, d), "vec_id", "embedding", baseCoarse(s, d), 4, 8, 1, 64))

  /** The cdc_upsert/stream_upsert change-batch fixture: replayed
    * updates (seq 1 and 2 for %10 keys), deletes that override
    * earlier updates (seq 3), and inserts at shifted keys — derived
    * deterministically from the base so the batch and streamed paths
    * apply identical changes.
    */
  private[queries] def upsertChanges(base: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def ch(pred: org.apache.spark.sql.Column,
           name: org.apache.spark.sql.Column,
           bal: org.apache.spark.sql.Column, op: String, seq: Int,
           keyShift: Long = 0L) =
      base.filter(pred).select(
        (col("c_custkey") + lit(keyShift)).as("c_custkey"),
        name.as("c_name"), bal.as("c_acctbal"),
        lit(op).as("op"), lit(seq).as("seq"))
    ch(col("c_custkey") % 5 === 0,
      concat(lit("UPDATED_"), col("c_name")),
      col("c_acctbal") + 10.0, "U", 1)
    .unionByName(ch(col("c_custkey") % 10 === 0,
      concat(lit("UPDATED2_"), col("c_name")),
      col("c_acctbal") + 20.0, "U", 2))
    .unionByName(ch(col("c_custkey") % 7 === 3,
      col("c_name"), col("c_acctbal"), "D", 3))
    .unionByName(ch(lit(true), concat(lit("NEW_"), col("c_name")),
      col("c_acctbal"), "I", 1, keyShift = 1000000L))
  }

  /** Deterministic synthetic URL per document (the fixtures carry no
    * URL column): six variants by doc_id — casing, explicit default
    * port, `www.`, duplicate slashes, trailing slash, tracking params
    * (`utm_*`/`fbclid`), fragments — so every canonicalization rule is
    * exercised, and variants 0/1/2/5 of the same (source, doc_id%40)
    * cell collapse to ONE canonical URL.
    */
  private[queries] def syntheticUrl(): org.apache.spark.sql.Column = {
    val k = (col("doc_id") % 40).cast("string")
    val id = col("doc_id").cast("string")
    val m = col("doc_id") % 6
    when(m === 0, concat(lit("https://www."), col("source"),
        lit(".example.com/a/"), k, lit("?utm_source=feed&b=2&a=1#sec")))
      .when(m === 1, concat(lit("HTTPS://"), upper(col("source")),
        lit(".Example.COM:443/a//"), k, lit("/?a=1&b=2")))
      .when(m === 2, concat(lit("https://"), col("source"),
        lit(".example.com/a/"), k, lit("?b=2&utm_campaign="), id,
        lit("&a=1")))
      .when(m === 3, concat(lit("http://www."), col("source"),
        lit(".example.com:80/a/"), k, lit("?a=1&b=2")))
      .when(m === 4, concat(lit("https://www."), col("source"),
        lit(".example.com:443//a/"), k, lit("#x")))
      .otherwise(concat(lit("https://"), col("source"),
        lit(".example.com/a/"), k, lit("/?fbclid="), id, lit("&a=1&b=2")))
  }
}
