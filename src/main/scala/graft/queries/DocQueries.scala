package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Curation, Dedup, LmSignals, Similarity, TextAnalysis}
import graft.queries.OracleCompat.{emailSql, numSql, piiSql, qualitySql, ssnSql, wordShingleSql}
import graft.queries.QueryFixtures.piiText

/** Document curation (`doc_*`): PII redaction, packing, sampling and
  * source mixtures, quality filters and curriculum ordering, plus the two
  * composed curation pipelines (`curation_pipeline`, `pretrain_pipeline`).
  */
object DocQueries {

  /** minhashPairCtes generalized to any (relation, text
    * column) — the pretraining pipeline runs MinHash over the
    * quality-gated, span-deduped relation, not raw `documents`. Emits
    * `sig/bands/bf/pairs` CTEs (2 bands × 3 rows over word 5-gram
    * shingles, band-df cap 256 — the Dedup.minhashCandidates mirror).
    */
  private def minhashPairCtesOn(rel: String, c: String): String = {
    def slice(i: Int) = s"substr(md5(s), ${i * 5 + 1}, 5)"
    val mhs = (0 until 6).map(i =>
      s"list_min(list_transform(${wordShingleSql(c, 5)}, s -> ${slice(i)})) AS mh$i")
      .mkString(",\n    ")
    val bands = (0 until 2).map(b =>
      s"SELECT doc_id, $b AS band, mh${3 * b} || mh${3 * b + 1} || mh${3 * b + 2} AS h FROM sig")
      .mkString("\n  UNION ALL ")
    s"""sig AS (
       |  SELECT doc_id,
       |    $mhs
       |  FROM $rel),
       |bands AS (
       |  $bands),
       |bf AS (
       |  SELECT doc_id, band, h, count(*) OVER (PARTITION BY band, h) AS df_b
       |  FROM bands),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.band
       |  FROM bf a JOIN bf b
       |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
       |  WHERE a.df_b <= 256
       |  UNION ALL
       |  SELECT id_a, id_b, band FROM (
       |    SELECT doc_id AS id_a,
       |           lead(doc_id) OVER (PARTITION BY band, h ORDER BY doc_id) AS id_b,
       |           band
       |    FROM bf WHERE df_b > 256)
       |  WHERE id_b IS NOT NULL)""".stripMargin
  }

  private val KCenters = 4
  private val PrioK = 50

  /** DuckDB restatement of Similarity.sqDistExact: per-element squared
    * difference staged through DECIMAL(38,14) (the double difference and
    * square are exact/IEEE-identical; the decimal rounding of each term
    * and the exact decimal sum make the total order-independent).
    */
  private def sqDistSql(a: String, b: String): String =
    s"""cast(sum(cast(($a[i]::DOUBLE - $b[i]::DOUBLE) *
       |  ($a[i]::DOUBLE - $b[i]::DOUBLE) AS DECIMAL(38,14))) AS DOUBLE)""".stripMargin

  /** Oracle CTE chain for the greedy k-center unroll: d1 = distances to
    * the min-id seed, then per round r: s_r = argmax of the running min
    * (ties to smallest id), d_r = least(previous, distance to s_r).
    */
  private def kCenterCtes: String = {
    val rounds = (2 to KCenters).map { r =>
      val prev = s"d${r - 1}"
      s"""s$r AS MATERIALIZED (
         |  SELECT id, dm FROM $prev ORDER BY dm DESC, id LIMIT 1),
         |v$r AS (SELECT e.v FROM e JOIN s$r ON e.id = s$r.id),
         |d$r AS MATERIALIZED (
         |  SELECT e.id, least($prev.dm, ${sqDistSql("e.v", "c.v")}) AS dm
         |  FROM e JOIN $prev USING (id), v$r c, generate_series(1, 64) g(i)
         |  GROUP BY e.id, $prev.dm)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id AS id, embedding AS v FROM embeddings),
       |c1 AS (SELECT min(id) AS cid FROM e),
       |v1 AS (SELECT e.v FROM e JOIN c1 ON e.id = c1.cid),
       |d1 AS MATERIALIZED (
       |  SELECT e.id, ${sqDistSql("e.v", "c.v")} AS dm
       |  FROM e, v1 c, generate_series(1, 64) g(i)
       |  GROUP BY e.id),
       |$rounds""".stripMargin
  }

  private val MixBudget = 10000L

  val all: Seq[Q] = Seq(

    Q("doc_sample",
      "Deterministic stratified sampling: keep a document when the first " +
        "4 hex digits of md5(doc_id) fall under its language's rate " +
        "(en 50%, zh 20%, others 10%). Hash-threshold sampling is " +
        "reproducible across runs and engines, needs no RNG state, and " +
        "plans as a plain pushed-down filter — the lake-scale " +
        "alternative to sample()'s per-partition RNG.",
      (s, d) => Curation.stratifiedSample(Tables.documents(s, d),
          "lang", "doc_id", Map("en" -> 0.5, "zh" -> 0.2), defaultRate = 0.1)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT
             |  < (CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2
             |     ELSE 0.1 END) * 65536
             |ORDER BY doc_id""".stripMargin)),

    Q("curation_pipeline",
      "The LLM-curation flagship — redact → quality-gate (≥0.5) → exact " +
        "dedup (min-id survivor per md5 of redacted text) → per-source " +
        "sequence packing, composed as ONE lazy Catalyst plan the way " +
        "dx_pipeline composes the reference DAG: the scan-stage " +
        "projections fuse, the only exchanges are the dedup key shuffle " +
        "and the per-shard packing window. Oracle replays the whole " +
        "chain in a single DuckDB WITH pipeline.",
      (s, d) => {
        val red = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            Curation.redact(col("text")).as("t"))
        val gated = red.filter(TextAnalysis.qualityScore(col("t")) >= 0.5)
        val ded = Dedup.exactDedup(gated, col("doc_id"), md5(col("t")))
        Curation.packSequences(ded, "source", "doc_id", "t", 256)
          .groupBy(col("source"), col("seq_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("seq_tokens"),
            min("doc_id").as("first_doc"))
          .orderBy("source", "seq_id")
      },
      Some(
        s"""WITH red AS (
           |  SELECT doc_id, source,
           |    regexp_replace(regexp_replace(regexp_replace(text,
           |      '${Curation.EmailRe}', '<EMAIL>', 'g'),
           |      '${Curation.SsnRe}', '<SSN>', 'g'),
           |      '${Curation.LongNumberRe}', '<ID>', 'g') AS t
           |  FROM documents),
           |feat AS (
           |  SELECT doc_id, source, t, length(t) AS n_chars,
           |    CASE WHEN trim(t) = '' THEN 0
           |         ELSE len(string_split_regex(trim(t), '\\s+')) END AS n_tokens,
           |    CASE WHEN length(t) = 0 THEN 0.0::DOUBLE
           |         ELSE length(regexp_replace(t, '[A-Za-z0-9\\s]', '', 'g')) / length(t) END AS punct_ratio,
           |    ((length(t) - length(replace(t, ' the ', ''))) / 5::DOUBLE
           |      + (length(t) - length(replace(t, ' a ', ''))) / 3::DOUBLE) AS stop_hits
           |  FROM red),
           |q AS (
           |  SELECT doc_id, source, t, n_tokens,
           |    least(n_chars / 500.0::DOUBLE, 1.0::DOUBLE) * 0.4::DOUBLE
           |      + (1.0::DOUBLE - punct_ratio) * 0.3::DOUBLE
           |      + least((CASE WHEN n_tokens = 0 THEN 0.0::DOUBLE
           |               ELSE stop_hits / n_tokens END) * 4.0::DOUBLE,
           |              1.0::DOUBLE) * 0.3::DOUBLE AS quality
           |  FROM feat),
           |ded AS (
           |  SELECT doc_id, source, n_tokens FROM q
           |  WHERE quality >= 0.5
           |  QUALIFY row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) = 1),
           |c AS (
           |  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           |    ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_before
           |  FROM ded)
           |SELECT source, CAST(floor(tok_before / 256) AS BIGINT) AS seq_id,
           |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
           |  min(doc_id) AS first_doc
           |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("doc_mixture",
      "Temperature-weighted source mixture (the training-mix sampler): " +
        "source i gets probability ∝ n_i^0.5, realized as a per-source " +
        "hash-threshold keep rate min(1, targetFrac·N·p_i/n_i). One tiny " +
        "count shuffle + a broadcast rate dim; the corpus side is never " +
        "shuffled and every row decision is md5-deterministic. Weights " +
        "sum through DECIMAL(38,14) so the total is order-independent; " +
        "the rate itself is fixed-order IEEE double ops, so the oracle's " +
        "rates are bit-identical.",
      (s, d) => Curation.temperatureMixture(Tables.documents(s, d),
          "source", "doc_id", alpha = 0.5, targetFrac = 0.25)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id"),
      Some(
        """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
          |t AS (SELECT cast(sum(n) AS DOUBLE) AS nn,
          |             cast(sum(cast(sqrt(cast(n AS DOUBLE)) AS DECIMAL(38,14)))
          |                  AS DOUBLE) AS wsum
          |      FROM c),
          |r AS (SELECT c.source,
          |             least(CAST(1 AS DOUBLE),
          |                   0.25 * t.nn * sqrt(cast(c.n AS DOUBLE)) / t.wsum
          |                     / cast(c.n AS DOUBLE)) AS rate
          |      FROM c, t)
          |SELECT d.doc_id, d.source, d.lang
          |FROM documents d JOIN r USING (source)
          |WHERE ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 4))::BIGINT
          |  < r.rate * 65536
          |ORDER BY d.doc_id""".stripMargin)),

    Q("doc_dsir",
      "DSIR-shaped importance signal (hashed n-gram importance " +
        "resampling, Xie et al. 2023): words hashed to 65536 buckets " +
        "(fixed model size at any vocabulary), target (lang='en') vs " +
        "raw-corpus bucket distributions estimated in ONE conditional " +
        "aggregation pass, each document scored by its mean per-word " +
        "probability contrast toward the target — the linear form of " +
        "the paper's log-ratio, chosen for bit portability. The 65536-" +
        "row contrast dimension broadcasts; the corpus shuffles only " +
        "for the per-doc re-aggregation.",
      (s, d) => LmSignals.dsirContrast(Tables.documents(s, d),
          "doc_id", "text", col("lang") === "en")
        .orderBy("doc_id"),
      Some(
        """WITH tok AS (
          |  SELECT doc_id, is_t, word,
          |         ('0x' || substring(md5(word), 1, 4))::BIGINT AS b
          |  FROM (SELECT doc_id, lang = 'en' AS is_t,
          |               unnest(string_split_regex(trim(text), '\s+')) AS word
          |        FROM documents)
          |  WHERE word <> ''),
          |hist AS (
          |  SELECT b, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
          |         count(*) AS cr
          |  FROM tok GROUP BY b),
          |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM hist),
          |contrast AS (
          |  SELECT b, ct::DOUBLE / tt - cr::DOUBLE / tr AS diff
          |  FROM hist CROSS JOIN tot),
          |scored AS (
          |  SELECT doc_id, count(*) AS n_words,
          |    cast(sum(cast(diff AS DECIMAL(38,14))) AS DOUBLE) / count(*)
          |      AS dsir_score
          |  FROM tok LEFT JOIN contrast USING (b)
          |  GROUP BY doc_id)
          |SELECT d.doc_id, coalesce(n_words, 0) AS n_words,
          |       coalesce(dsir_score, 0.0::DOUBLE) AS dsir_score
          |FROM documents d LEFT JOIN scored USING (doc_id)
          |ORDER BY doc_id""".stripMargin)),

    Q("doc_shards",
      "Seeded deterministic corpus shuffle into training shards: each " +
        "row's reproducible key is md5(seed ':' id); shard = first 4 " +
        "hex digits mod 16, position = key rank WITHIN the shard. One " +
        "hash exchange + per-shard parallel sort — row_number runs over " +
        "partitionBy(shard), never a global window, so no task sees " +
        "more than ~corpus/nShards rows at any scale.",
      (s, d) => Curation.seededShards(Tables.documents(s, d),
          "doc_id", nShards = 16, seed = "r6")
        .select("shard", "pos", "doc_id")
        .orderBy("shard", "pos"),
      Some(
        """WITH keyed AS (
          |  SELECT doc_id, md5('r6:' || doc_id::VARCHAR) AS key,
          |         ('0x' || substring(md5('r6:' || doc_id::VARCHAR), 1, 4))::BIGINT
          |           % 16 AS shard
          |  FROM documents)
          |SELECT shard,
          |  row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) AS pos,
          |  doc_id
          |FROM keyed
          |ORDER BY shard, pos""".stripMargin)),

    Q("doc_curriculum",
      "Curriculum ordering for training: documents bucketed by FIXED " +
        "quality thresholds (scan-local CASE — a rank-based ntile would " +
        "need a global sort, a serialization point at corpus scale), " +
        "cleanest bucket first, seeded md5 order WITHIN each bucket " +
        "(row_number over partitionBy(bucket) — per-bucket parallel " +
        "sort, no global window). Bucket 0 = highest-quality tier.",
      (s, d) => {
        val q = TextAnalysis.qualityScore(col("text"))
        val key = md5(concat(lit("cur:"), col("doc_id").cast("string")))
        val bucket = when(q >= 0.75, 0).when(q >= 0.5, 1)
          .when(q >= 0.25, 2).otherwise(3)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("bucket"))
          .orderBy(col("__key").asc, col("doc_id").asc)
        Tables.documents(s, d)
          .select(col("doc_id"), q.as("quality"), bucket.as("bucket"),
            key.as("__key"))
          .withColumn("pos", row_number().over(w).cast("long"))
          .select("bucket", "pos", "doc_id", "quality")
          .orderBy("bucket", "pos")
      },
      Some(
        """WITH t AS (
          |  SELECT doc_id, length(text) AS n_chars,
          |    CASE WHEN trim(text) = '' THEN 0
          |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
          |    CASE WHEN length(text) = 0 THEN 0.0::DOUBLE
          |         ELSE length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) / length(text) END AS punct_ratio,
          |    ((length(text) - length(replace(text, ' the ', ''))) / 5::DOUBLE
          |      + (length(text) - length(replace(text, ' a ', ''))) / 3::DOUBLE) AS stop_hits
          |  FROM documents),
          |t2 AS (
          |  SELECT doc_id,
          |    least(n_chars / 500.0::DOUBLE, 1.0::DOUBLE) * 0.4::DOUBLE
          |      + (1.0::DOUBLE - punct_ratio) * 0.3::DOUBLE
          |      + least((CASE WHEN n_tokens = 0 THEN 0.0::DOUBLE
          |               ELSE stop_hits / n_tokens END) * 4.0::DOUBLE,
          |              1.0::DOUBLE) * 0.3::DOUBLE AS quality
          |  FROM t),
          |b AS (
          |  SELECT doc_id, quality,
          |    CASE WHEN quality >= 0.75 THEN 0 WHEN quality >= 0.5 THEN 1
          |         WHEN quality >= 0.25 THEN 2 ELSE 3 END AS bucket,
          |    md5('cur:' || doc_id::VARCHAR) AS key
          |  FROM t2)
          |SELECT bucket,
          |  row_number() OVER (PARTITION BY bucket ORDER BY key, doc_id) AS pos,
          |  doc_id, quality
          |FROM b
          |ORDER BY bucket, pos""".stripMargin)),

    Q("doc_split",
      "Deterministic stratum-free train/val/test assignment (80/10/10): " +
        "split membership is a pure function of md5(doc_id) against " +
        "integer cumulative thresholds — stable across reruns, retries " +
        "and partition layouts (a moving train/test boundary is silent " +
        "test-set contamination). Zero shuffles: a scan-stage projection.",
      (s, d) => Curation.assignSplit(Tables.documents(s, d), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "source", "split")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source,
             |  CASE
             |    WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT
             |         < 52428 THEN 'train'
             |    WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT
             |         < 58982 THEN 'val'
             |    ELSE 'test'
             |  END AS split
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    Q("doc_stratum_k",
      "Exact top-3-per-source deterministic reservoir: the 3 smallest " +
        "md5(doc_id) per stratum. The stratum window only sees a hash-" +
        "prefiltered sliver (per-stratum counts size a bucket threshold, " +
        "broadcast back) — monotone in the ranking key, so provably " +
        "lossless, with a codegen'd raise_error guard on the e^-16 " +
        "undershoot tail. The naive all-rows-through-one-window-partition " +
        "shape never exists.",
      (s, d) => Curation.exactKPerStratum(Tables.documents(s, d),
          "source", "doc_id", k = 3)
        .select("doc_id", "source", "rk")
        .orderBy("source", "doc_id"),
      Some("""WITH ranked AS (
             |  SELECT doc_id, source,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
             |  FROM documents)
             |SELECT doc_id, source, rk FROM ranked
             |WHERE rk <= 3
             |ORDER BY source, doc_id""".stripMargin)),

    Q("doc_diff",
      "Corpus snapshot diff (dataset versioning): two derived snapshots " +
        "of documents compared by content fingerprint — md5 computed in " +
        "each scan stage (text never shuffles, only id + 32-byte hash), " +
        "one co-partitioned full-outer join, null-safe status " +
        "projection. added/removed/changed/unchanged per id; " +
        "incremental reprocessing keys off added+changed.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val prev = docs.filter(col("doc_id") % 13 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v1")))
              .otherwise(col("text")))
        val cur = docs.filter(col("doc_id") % 19 =!= 4)
        Curation.snapshotDiff(prev, cur, "doc_id", "text").orderBy("doc_id")
      },
      Some("""WITH prev AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 0 THEN text || ' v1' ELSE text END AS text
             |  FROM documents WHERE doc_id % 13 <> 0),
             |cur AS (SELECT doc_id, text FROM documents WHERE doc_id % 19 <> 4)
             |SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
             |  CASE WHEN p.doc_id IS NULL THEN 'added'
             |       WHEN c.doc_id IS NULL THEN 'removed'
             |       WHEN md5(p.text) IS NOT DISTINCT FROM md5(c.text)
             |         THEN 'unchanged'
             |       ELSE 'changed' END AS status
             |FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id
             |ORDER BY doc_id""".stripMargin)),

    Q("doc_epochs",
      "Epoch-weighted upsampling — mixture rates ABOVE 1 (a pretraining " +
        "mix seeing curated sources several times per epoch): floor(rate) " +
        "copies per row plus one more when the md5 bucket falls under the " +
        "fractional remainder; deterministic, exactly rate*n rows per " +
        "source in expectation. Scan-stage explode(sequence(...)) — rows " +
        "expand in the map stage, no shuffle, no dimension join.",
      (s, d) => Curation.epochUpsample(Tables.documents(s, d),
          "source", "doc_id",
          rates = Map("src0" -> 2.5, "src1" -> 0.5), defaultRate = 1.0)
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch"),
      Some("""WITH rated AS (
             |  SELECT doc_id, source,
             |    CASE WHEN source = 'src0' THEN 2.5
             |         WHEN source = 'src1' THEN 0.5
             |         ELSE 1.0 END AS rate,
             |    ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT AS b
             |  FROM documents),
             |n AS (
             |  SELECT doc_id, source,
             |    CAST(floor(rate) AS BIGINT) +
             |      CASE WHEN b < (rate - floor(rate)) * 65536
             |           THEN 1 ELSE 0 END AS n
             |  FROM rated)
             |SELECT doc_id, source,
             |       unnest(generate_series(0, n - 1)) AS epoch
             |FROM n WHERE n > 0
             |ORDER BY doc_id, epoch""".stripMargin)),

    Q("pretrain_pipeline",
      "The full pretraining-run flagship — every curation stage a real " +
        "run chains, one driver program with four lineage-cut barriers " +
        "(eager stage barriers at each multi-consumer stage: plain " +
        "caching leaves the whole logical tree for AQE to re-optimize " +
        "at every exchange — measured 15s of driver re-planning vs " +
        "<1s execution at sf0.01; localCheckpoint by default, reliable " +
        "checkpoint-to-dir at/above graft.pipeline.barrierReliableBytes " +
        "for long runs; no orchestrator): " +
        "quality gate (>= 0.5 on raw text) → cross-doc SUBSTRING dedup " +
        "(k-gram spans, first occurrence survives) → MinHash-LSH " +
        "near-dup removal (keep-smaller-id pair policy — the lazy " +
        "anti-join; cluster-exact removal is dedup_cluster's driver " +
        "loop) → benchmark decontamination (doc_id % 10 = 0 as the " +
        "held-out eval set, maxBenchDf=8 stop-listing boilerplate " +
        "shingles — the r14 probe measured the unguarded shape " +
        "quadratic, 14.3 GB shuffle at 100x, vs ~50 MB flat capped) → " +
        "DSIR importance filter (target lang='en', " +
        "keep score >= 0) → temperature mixture (alpha 0.5, target " +
        "half) → quality-curriculum buckets → 8 seeded shards → " +
        "128-token sequence packing in curriculum order per shard. " +
        "Output: one row per packed sequence. The oracle replays the " +
        "ENTIRE chain as a single DuckDB WITH pipeline. Exchange audit " +
        "in PLANS.md attributes every shuffle to its named stage.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // Stage barriers are EAGER lineage cuts, not plain caches: a
        // persist keeps the whole logical tree, and AQE re-optimizes that
        // tree at every one of the chain's ~25 exchanges — measured 15s+
        // of pure driver re-planning at sf0.01 (O(stages × plan size)).
        // The barrier truncates lineage at each multi-consumer stage,
        // so each stage plans against a scan of the (post-filter, small
        // relative to the corpus) previous barrier. Same data, same
        // oracle. Default is localCheckpoint (executor-loss recompute,
        // as in the CC loops); a barrier at/above
        // Curation.BarrierReliableBytesKey (0 = every barrier) is
        // promoted to reliable checkpoint-to-dir for long runs where a
        // recompute cascade costs more than the replicated write
        // (PipelinesSpec pins reliable ≡ local row-for-row).
        // 1. quality gate on the raw text
        val gated = docs.filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
        // 2. substring dedup; cleaned text replaces the original
        val spans = Dedup.dedupSpans(gated, "doc_id", "text", k = 8, minDocs = 2)
        val cleaned = gated.select(col("doc_id"), col("source"), col("lang"))
          .join(spans.select(col("doc_id"), col("clean_text").as("t")),
            Seq("doc_id"))
          .transform(Curation.stageBarrier)
        // 3. MinHash near-dup removal: drop the larger id of every
        // candidate pair (greedy keep-first; transitive-closure removal
        // needs the CC driver loop — dedup_cluster — when cluster-exact
        // removal matters more)
        val pairs = Dedup.minhashCandidates(cleaned, "doc_id", "t",
          Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3)
        val train = cleaned
          .join(pairs.select(col("id_b").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          .filter(col("doc_id") % 10 =!= 0)
          .transform(Curation.stageBarrier)
        // 4. decontamination against the held-out benchmark slice.
        // The bench here is a FRACTION of the corpus (doc_id % 10), so
        // it grows with the data — the r14 composition probe measured
        // the unguarded join quadratic in that configuration (2.4 MB →
        // 14.3 GB shuffle, 380 s, kept-fraction collapse to 0.4% at
        // 100×). maxBenchDf=8 stop-lists boilerplate shingles shared by
        // many bench docs, bounding join rows per train occurrence at
        // the cap — measured ~50 MB flat across 1×/10×/100× (PLANS.md
        // s3c row), and the capped branch is oracle-bound standalone by
        // `dedup_contamination_capped`.
        val bench = docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text").as("t"))
        val contaminated = Dedup.contamination(train, bench, "doc_id", "t",
          Dedup.Shingler.words(3), minCommon = 3, maxBenchDf = 8)
        val decon = train.join(
            contaminated.select(col("id").as("doc_id")), Seq("doc_id"),
            "left_anti")
          .transform(Curation.stageBarrier)
        // 5. DSIR importance filter toward the English target
        val dsir = LmSignals.dsirContrast(decon, "doc_id", "t",
          col("lang") === "en")
        val kept = decon.join(
            dsir.filter(col("dsir_score") >= 0).select("doc_id"), Seq("doc_id"))
          .transform(Curation.stageBarrier)
        // 6. temperature mixture over sources
        val mixed = Curation.temperatureMixture(kept, "source", "doc_id",
          alpha = 0.5, targetFrac = 0.5)
        // 7-9. curriculum buckets, seeded shards, packing
        val q = TextAnalysis.qualityScore(col("t"))
        val bucket = when(q >= 0.75, 0).when(q >= 0.5, 1)
          .when(q >= 0.25, 2).otherwise(3)
        val ordKey = concat(col("bucket").cast("string"), lit(":"),
          md5(concat(lit("r7:"), col("doc_id").cast("string"))))
        val sharded = Curation.seededShards(mixed.withColumn("bucket", bucket),
          "doc_id", nShards = 8, seed = "r7")
        Curation.packSequences(sharded.withColumn("__ord", ordKey),
            "shard", "__ord", "t", budget = 128)
          .groupBy(col("shard"), col("seq_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("seq_tokens"),
            min("doc_id").as("first_doc"))
          .orderBy("shard", "seq_id")
      },
      Some(
        s"""WITH gated AS (
           |  SELECT doc_id, source, lang, text FROM documents
           |  WHERE ${qualitySql("text")} >= 0.5),
           |w AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
           |  FROM gated WHERE trim(text) <> ''),
           |g0 AS (
           |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i
           |  FROM w WHERE len(ws) >= 8),
           |g AS (
           |  SELECT doc_id, i,
           |         md5(array_to_string(list_slice(ws, i, i + 7), ' ')) AS h
           |  FROM g0),
           |dup AS (
           |  SELECT h, min(doc_id) AS keep_doc FROM g
           |  GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
           |cov AS (
           |  SELECT DISTINCT doc_id, p FROM (
           |    SELECT g.doc_id, unnest(generate_series(g.i, g.i + 7)) AS p
           |    FROM g JOIN dup USING (h)
           |    WHERE g.doc_id <> dup.keep_doc)),
           |wp AS (
           |  SELECT doc_id, unnest(ws) AS word,
           |         unnest(generate_series(1, len(ws))) AS p
           |  FROM w),
           |kw AS (
           |  SELECT wp.doc_id, wp.word, wp.p
           |  FROM wp LEFT JOIN cov ON wp.doc_id = cov.doc_id AND wp.p = cov.p
           |  WHERE cov.p IS NULL),
           |cleaned AS (
           |  SELECT gt.doc_id, gt.source, gt.lang,
           |    coalesce(string_agg(kw.word, ' ' ORDER BY kw.p), '') AS t
           |  FROM gated gt LEFT JOIN kw USING (doc_id)
           |  GROUP BY gt.doc_id, gt.source, gt.lang),
           |${minhashPairCtesOn("cleaned", "t")},
           |train AS (
           |  SELECT * FROM cleaned
           |  WHERE doc_id NOT IN (SELECT id_b FROM pairs)
           |    AND doc_id % 10 <> 0),
           |tsh AS (
           |  SELECT doc_id AS id, unnest(${wordShingleSql("t", 3)}) AS sh
           |  FROM train),
           |bsh0 AS (
           |  SELECT doc_id AS bid, unnest(${wordShingleSql("text", 3)}) AS sh
           |  FROM documents WHERE doc_id % 10 = 0),
           |bsh AS (
           |  SELECT bid, sh FROM (
           |    SELECT bid, sh, count(*) OVER (PARTITION BY sh) AS dfb
           |    FROM bsh0)
           |  WHERE dfb <= 8),
           |contaminated AS (
           |  SELECT DISTINCT id FROM (
           |    SELECT id, bid, count(*) AS n FROM tsh JOIN bsh USING (sh)
           |    GROUP BY 1, 2)
           |  WHERE n >= 3),
           |decon AS (
           |  SELECT * FROM train
           |  WHERE doc_id NOT IN (SELECT id FROM contaminated)),
           |tok AS (
           |  SELECT doc_id, is_t, word,
           |         ('0x' || substring(md5(word), 1, 4))::BIGINT AS b
           |  FROM (SELECT doc_id, lang = 'en' AS is_t,
           |               unnest(string_split_regex(trim(t), '\\s+')) AS word
           |        FROM decon)
           |  WHERE word <> ''),
           |hist AS (
           |  SELECT b, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
           |         count(*) AS cr
           |  FROM tok GROUP BY b),
           |tot AS (SELECT coalesce(sum(ct), 0) AS tt,
           |               coalesce(sum(cr), 0) AS tr FROM hist),
           |contrast AS (
           |  SELECT b,
           |    (CASE WHEN tt > 0 THEN ct::DOUBLE / tt ELSE 0.0::DOUBLE END
           |     - CASE WHEN tr > 0 THEN cr::DOUBLE / tr ELSE 0.0::DOUBLE END)
           |      AS diff
           |  FROM hist CROSS JOIN tot),
           |scored AS (
           |  SELECT doc_id,
           |    cast(sum(cast(diff AS DECIMAL(38,14))) AS DOUBLE) / count(*)
           |      AS dsir
           |  FROM tok LEFT JOIN contrast USING (b)
           |  GROUP BY doc_id),
           |kept AS (
           |  SELECT d.* FROM decon d LEFT JOIN scored s USING (doc_id)
           |  WHERE coalesce(s.dsir, 0.0::DOUBLE) >= 0),
           |mc AS (SELECT source, count(*) AS n FROM kept GROUP BY source),
           |mt AS (SELECT cast(sum(n) AS DOUBLE) AS nn,
           |              cast(sum(cast(sqrt(cast(n AS DOUBLE)) AS DECIMAL(38,14)))
           |                   AS DOUBLE) AS wsum
           |       FROM mc),
           |mr AS (SELECT mc.source,
           |              least(CAST(1 AS DOUBLE),
           |                    0.5 * mt.nn * sqrt(cast(mc.n AS DOUBLE)) / mt.wsum
           |                      / cast(mc.n AS DOUBLE)) AS rate
           |       FROM mc, mt),
           |mixed AS (
           |  SELECT k2.* FROM kept k2
           |  JOIN mr ON k2.source IS NOT DISTINCT FROM mr.source
           |  WHERE ('0x' || substring(md5(k2.doc_id::VARCHAR), 1, 4))::BIGINT
           |    < mr.rate * 65536),
           |keyed AS (
           |  SELECT doc_id, t,
           |    CASE WHEN ${qualitySql("t")} >= 0.75 THEN 0
           |         WHEN ${qualitySql("t")} >= 0.5 THEN 1
           |         WHEN ${qualitySql("t")} >= 0.25 THEN 2 ELSE 3 END AS bucket,
           |    ('0x' || substring(md5('r7:' || doc_id::VARCHAR), 1, 4))::BIGINT
           |      % 8 AS shard,
           |    CASE WHEN trim(t) = '' THEN 0
           |         ELSE len(string_split_regex(trim(t), '\\s+')) END AS n_tokens
           |  FROM mixed),
           |packed AS (
           |  SELECT shard, doc_id, n_tokens,
           |    sum(n_tokens) OVER (PARTITION BY shard
           |      ORDER BY bucket::VARCHAR || ':' || md5('r7:' || doc_id::VARCHAR)
           |      ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_before
           |  FROM keyed)
           |SELECT shard, CAST(floor(tok_before / 128) AS BIGINT) AS seq_id,
           |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
           |  min(doc_id) AS first_doc
           |FROM packed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("doc_token_budget",
      "The token-budget plan a data-mixing decision is made from: " +
        "mixtures are allocated in TOKENS, not documents (long-doc " +
        "sources eat budget faster than their doc share suggests). ONE " +
        "map-side-combined pass yields per-source doc and token " +
        "counts; totals are a 1-row broadcast; shares, the alpha-" +
        "tempered sampling rate (bit-identical to doc_mixture's — this " +
        "is that sampler's dry-run report) and the expected doc/token " +
        "draws are arithmetic on those integers. One exchange over " +
        "|sources| rows at any corpus size.",
      (s, d) => graft.ops.Curation.tokenBudget(
        Tables.documents(s, d), "source", "text",
        alpha = 0.5, targetFrac = 0.5).orderBy("source"),
      Some(
        s"""WITH tok AS (
           |  SELECT source,
           |    CASE WHEN trim(text) = '' THEN 0
           |         ELSE len(string_split_regex(trim(text), '\\s+')) END
           |      AS tk
           |  FROM documents),
           |mc AS (
           |  SELECT source, count(*) AS n, sum(tk)::BIGINT AS toks
           |  FROM tok GROUP BY source),
           |mt AS (
           |  SELECT cast(sum(n) AS DOUBLE) AS nn,
           |         cast(sum(toks) AS DOUBLE) AS tt,
           |         cast(sum(cast(sqrt(cast(n AS DOUBLE))
           |           AS DECIMAL(38,14))) AS DOUBLE) AS wsum
           |  FROM mc)
           |SELECT mc.source, mc.n AS n_docs, mc.toks AS n_tokens,
           |  cast(mc.n AS DOUBLE) / mt.nn AS doc_share,
           |  cast(mc.toks AS DOUBLE) / mt.tt AS token_share,
           |  least(1.0::DOUBLE,
           |    0.5 * mt.nn * sqrt(cast(mc.n AS DOUBLE)) / mt.wsum
           |      / cast(mc.n AS DOUBLE)) AS rate,
           |  least(1.0::DOUBLE,
           |    0.5 * mt.nn * sqrt(cast(mc.n AS DOUBLE)) / mt.wsum
           |      / cast(mc.n AS DOUBLE)) * cast(mc.n AS DOUBLE)
           |    AS exp_docs,
           |  least(1.0::DOUBLE,
           |    0.5 * mt.nn * sqrt(cast(mc.n AS DOUBLE)) / mt.wsum
           |      / cast(mc.n AS DOUBLE)) * cast(mc.toks AS DOUBLE)
           |    AS exp_tokens
           |FROM mc, mt
           |ORDER BY source""".stripMargin)),

    Q("doc_ccnet_buckets",
      "CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020 " +
        "S4.3) — the corpus partition most pretraining recipes consume. " +
        "Tercile thresholds are fit on a BOUNDED deterministic sample " +
        "(the 300 docs with the smallest md5(id): orderBy(md5).limit = " +
        "TakeOrderedAndProject, k rows to the driver at ANY corpus " +
        "size, the way CCNet fits its percentiles on a per-language " +
        "sample), then ONE narrow projection assigns buckets by literal " +
        "cut values — no global sort anywhere. Scores are the ta_lmscore " +
        "bigram-LM means (head = fluent); a doc scoring exactly a cut " +
        "lands in the better bucket.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        LmSignals.ccnetBuckets(docs, "doc_id", "text",
            docs.filter(col("lang") === "en"), "text",
            minCount = 2L, sampleK = 300)
          .orderBy("doc_id")
      },
      Some(
        """WITH w AS (
          |  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ws
          |  FROM documents),
          |refuni AS (
          |  SELECT word, count(*) AS c1 FROM (
          |    SELECT unnest(ws) AS word FROM w WHERE lang = 'en')
          |  WHERE word <> '' GROUP BY word),
          |vocab AS (SELECT count(*) AS v FROM refuni),
          |refbi AS (
          |  SELECT big, count(*) AS c2 FROM (
          |    SELECT ws[i] || ' ' || ws[i+1] AS big FROM (
          |      SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
          |      FROM w WHERE lang = 'en'))
          |  GROUP BY big HAVING count(*) >= 2),
          |docbi AS (
          |  SELECT doc_id, ws[i] AS prefix, ws[i] || ' ' || ws[i+1] AS big
          |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
          |        FROM w)),
          |scored AS (
          |  SELECT doc_id, count(*) AS n_bigrams,
          |    cast(sum(cast((coalesce(c2, 0) + 1)::DOUBLE /
          |      (coalesce(c1, 0) + v)::DOUBLE AS DECIMAL(38,14))) AS DOUBLE)
          |      / count(*) AS lm_score
          |  FROM docbi
          |  LEFT JOIN refbi USING (big)
          |  LEFT JOIN refuni ON docbi.prefix = refuni.word
          |  CROSS JOIN vocab
          |  GROUP BY doc_id),
          |allscored AS (
          |  SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
          |         coalesce(lm_score, 0.0::DOUBLE) AS lm_score
          |  FROM documents d LEFT JOIN scored USING (doc_id)),
          |samp AS (
          |  SELECT lm_score FROM allscored
          |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 300),
          |ranked AS (
          |  SELECT lm_score, row_number() OVER (ORDER BY lm_score DESC) AS rn,
          |         count(*) OVER () AS m
          |  FROM samp),
          |thr AS (
          |  SELECT max(CASE WHEN rn = (m + 2) // 3 THEN lm_score END) AS t_hi,
          |         max(CASE WHEN rn = (2 * m + 2) // 3 THEN lm_score END) AS t_lo
          |  FROM ranked)
          |SELECT a.doc_id, a.n_bigrams, a.lm_score,
          |  CASE WHEN a.lm_score >= t_hi THEN 'head'
          |       WHEN a.lm_score >= t_lo THEN 'middle'
          |       ELSE 'tail' END AS bucket
          |FROM allscored a CROSS JOIN thr
          |ORDER BY a.doc_id""".stripMargin)),

    Q("doc_soft_sample",
      "Quality-weighted SOFT sampling (the FineWeb/DCLM soft filter): " +
        "every doc keeps with probability minRate + (maxRate-minRate) x " +
        "clamp(quality, 0, 1) — low-quality text is DOWNSAMPLED rather " +
        "than erased, high-quality capped at maxRate. The coin is the " +
        "deterministic md5 hash bucket (doc_sample's), the rate pure " +
        "+/x arithmetic on the score (no pow: libm exponent drift could " +
        "flip a boundary decision) — the whole decision is a pushed-" +
        "down scan filter at any corpus size.",
      (s, d) => Curation.qualityWeightedSample(Tables.documents(s, d),
          "doc_id", TextAnalysis.qualityScore(col("text")),
          minRate = 0.1, maxRate = 0.9)
        .select("doc_id", "lang", "rate")
        .orderBy("doc_id"),
      Some(
        s"""WITH r AS (
           |  SELECT doc_id, lang,
           |    0.1::DOUBLE + (0.9::DOUBLE - 0.1::DOUBLE) *
           |      least(greatest(${qualitySql("text")},
           |                     0.0::DOUBLE), 1.0::DOUBLE) AS rate
           |  FROM documents)
           |SELECT doc_id, lang, rate FROM r
           |WHERE ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT
           |      < rate * 65536
           |ORDER BY doc_id""".stripMargin)),

    Q("doc_select_frac",
      "EXACT top-20%-by-quality selection WITHOUT a global sort: one " +
        "bounded histogram aggregate finds the threshold bucket, a " +
        "pushed-down filter keeps every bucket above it, and only the " +
        "threshold bucket's rows (expected n/4096 of the corpus) pass " +
        "through the rank window — bit-identical rows to the global " +
        "row_number() cut the oracle spells, without serializing the " +
        "corpus through one window partition. Cut size ceil(frac*n) is " +
        "computed with the same double arithmetic on both engines.",
      (s, d) => Curation.selectTopFrac(Tables.documents(s, d), "doc_id",
          graft.ops.TextAnalysis.qualityScore(col("text")), frac = 0.2)
        .select(col("doc_id"), col("lang"), col("__g_q").as("q"))
        .orderBy("doc_id"),
      Some(s"""WITH s AS (
              |  SELECT doc_id, lang, ${qualitySql("text")} AS q
              |  FROM documents),
              |n AS (
              |  SELECT cast(ceil(0.2::DOUBLE * count(*)) AS BIGINT) AS k
              |  FROM s),
              |r AS (
              |  SELECT doc_id, lang, q,
              |    row_number() OVER (ORDER BY q DESC, doc_id) AS rn
              |  FROM s)
              |SELECT doc_id, lang, q FROM r, n
              |WHERE rn <= n.k
              |ORDER BY doc_id""".stripMargin)),

    Q("doc_select_frac_lang",
      "Per-LANGUAGE exact top-20% quality cut (a global cut silently " +
        "drains low-resource languages because quality scores are not " +
        "calibrated across them): the doc_select_frac two-pass " +
        "selection vectorized over strata — one (stratum x bucket) " +
        "histogram aggregate, per-stratum literal-CASE threshold " +
        "filters, and a rank window PARTITIONED BY language that sees " +
        "only each stratum's threshold bucket.",
      (s, d) => Curation.selectTopFracByStratum(Tables.documents(s, d),
          "doc_id", "lang",
          graft.ops.TextAnalysis.qualityScore(col("text")), frac = 0.2)
        .select(col("doc_id"), col("lang"), col("__g_q").as("q"))
        .orderBy("doc_id"),
      Some(s"""WITH s AS (
              |  SELECT doc_id, lang, ${qualitySql("text")} AS q
              |  FROM documents),
              |n AS (
              |  SELECT lang, cast(ceil(0.2::DOUBLE * count(*)) AS BIGINT) AS k
              |  FROM s GROUP BY lang),
              |r AS (
              |  SELECT doc_id, lang, q,
              |    row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rn
              |  FROM s)
              |SELECT doc_id, r.lang, q FROM r JOIN n ON r.lang = n.lang
              |WHERE rn <= n.k
              |ORDER BY doc_id""".stripMargin)),

    Q("doc_length_buckets",
      "Length-grouped batching (dynamic batching): docs bucket by " +
        "token-count tier (edges 64/128/256/512), batch within " +
        "(bucket, shard) in id order — 8 hash shards per tier so no " +
        "bucket funnels through one partition, each worker batching " +
        "its shard locally exactly like a distributed training loader " +
        "— and the report prices the padding: per batch the padded " +
        "cost is max_tokens x rows, waste = padded - real. All-integer " +
        "arithmetic; the only double is a division of exact longs.",
      (s, d) => Curation.lengthBuckets(Tables.documents(s, d),
        "doc_id", "text", bounds = Seq(64L, 128L, 256L, 512L),
        batchSize = 32, nShards = 8),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    CASE WHEN trim(text) = '' THEN 0
             |         ELSE len(string_split_regex(trim(text), '\s+'))
             |    END AS n_tokens
             |  FROM documents),
             |b AS (
             |  SELECT doc_id, n_tokens,
             |    CAST((CASE WHEN n_tokens >= 64 THEN 1 ELSE 0 END) +
             |         (CASE WHEN n_tokens >= 128 THEN 1 ELSE 0 END) +
             |         (CASE WHEN n_tokens >= 256 THEN 1 ELSE 0 END) +
             |         (CASE WHEN n_tokens >= 512 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS bucket,
             |    doc_id % 8 AS shard
             |  FROM t),
             |r AS (
             |  SELECT bucket, shard, n_tokens,
             |    CAST((row_number() OVER (PARTITION BY bucket, shard
             |      ORDER BY doc_id) - 1) // 32 AS BIGINT) AS batch
             |  FROM b),
             |pb AS (
             |  SELECT bucket, shard, batch, count(*) AS nd,
             |    max(n_tokens) AS mx, sum(n_tokens) AS st
             |  FROM r GROUP BY 1, 2, 3)
             |SELECT bucket, CAST(sum(nd) AS BIGINT) AS n_docs,
             |  count(*) AS n_batches,
             |  CAST(sum(st) AS BIGINT) AS sum_tokens,
             |  CAST(sum(mx * nd) AS BIGINT) AS padded_tokens,
             |  CASE WHEN sum(mx * nd) > 0
             |    THEN CAST(sum(mx * nd) - sum(st) AS DOUBLE) /
             |         CAST(sum(mx * nd) AS BIGINT)
             |    ELSE 0.0 END AS waste_frac
             |FROM pb GROUP BY bucket ORDER BY bucket""".stripMargin)),

    Q("doc_neyman",
      "Neyman-allocation stratified sample: a 60-doc budget splits " +
        "across sources proportional to N_h x sigma_h (variable strata " +
        "earn more budget than their row share — the optimal " +
        "allocation for a stratified mean, vs the proportional/" +
        "temperature mixtures). Sigma derives from one exact-moment " +
        "aggregate; the weight rounds to an integer so the split is " +
        "pure integer arithmetic (no cross-strata float summation); " +
        "selection is the md5-ranked deterministic draw with the " +
        "exactKPerStratum prefilter discipline (output " +
        "prefilter-invariant, undershoot raises).",
      (s, d) => Curation.neymanSample(Tables.documents(s, d), "source",
          "doc_id", "n_chars", totalBudget = 60)
        .select(col("source"), col("doc_id"), col("rk"), col("n_h"))
        .orderBy(col("source"), col("rk")),
      Some("""WITH st AS (
             |  SELECT source AS g, count(*) AS n,
             |    cast(sum(cast(n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s,
             |    cast(sum(cast(n_chars * n_chars AS DECIMAL(38,0)))
             |      AS DOUBLE) AS s2
             |  FROM documents GROUP BY 1),
             |w AS (
             |  SELECT g, n,
             |    CAST(round(n * sqrt(greatest(
             |      s2 / n - (s / n) * (s / n), 0.0))) AS BIGINT) AS wq
             |  FROM st),
             |tot AS (SELECT sum(wq) AS W FROM w),
             |k AS (
             |  SELECT g, CAST(least(n, (60 * wq) // W) AS BIGINT) AS kh
             |  FROM w, tot WHERE W > 0),
             |r AS (
             |  SELECT source AS g, doc_id,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id) AS rk
             |  FROM documents)
             |SELECT r.g AS source, r.doc_id, r.rk, k.kh AS n_h
             |FROM r JOIN k USING (g)
             |WHERE r.rk <= k.kh
             |ORDER BY source, rk""".stripMargin)),

    Q("doc_kcenter",
      "Greedy k-center diversity selection (Gonzalez 1985, the " +
        "2-approximation) over the embedding table " +
        "(Similarity.kCenterSelect): seed at the smallest id, then " +
        "k−1 rounds of 'add the point farthest from every chosen " +
        "center' — the coreset/curation primitive that picks maximally " +
        "SPREAD exemplars (annotation batches, eval seeds, " +
        "coverage-balanced mixes), the geometric complement of " +
        "hard-negative mining. Each round is ONE narrow " +
        "decimal-exact-distance map against the single newest center " +
        "plus a TakeOrdered(1) argmax over the running min — k scans " +
        "total, state localCheckpoint'ed, nothing corpus-sized ever " +
        "collected. Fully deterministic (exact decimal L2, ties to " +
        "smallest id), so the oracle unrolls the identical selection " +
        "rounds and the row hashes (round, center_id, radius) exactly.",
      (s, d) => Similarity.kCenterSelect(Tables.embeddings(s, d),
        "vec_id", "embedding", k = KCenters),
      Some {
        val tail = (2 to KCenters).map { r =>
          s"SELECT CAST($r AS BIGINT) AS round, id AS center_id, " +
            s"dm AS radius FROM s$r"
        }.mkString("\nUNION ALL ")
        s"""WITH $kCenterCtes
           |SELECT CAST(1 AS BIGINT) AS round, cid AS center_id,
           |  0.0::DOUBLE AS radius FROM c1
           |UNION ALL $tail
           |ORDER BY round""".stripMargin
      }),

    Q("doc_priority_sample",
      "Weighted sampling WITHOUT replacement by priority sampling " +
        "(Duffield, Lund & Thorup, JACM 2007) " +
        "(Curation.prioritySample): priority = weight / u with u a " +
        "deterministic md5-derived uniform in (0,1], the top 50 " +
        "priorities are the sample, and τ = the 51st priority yields " +
        "the unbiased subset-sum estimator ŵ = max(w, τ). Chosen over " +
        "Efraimidis–Spirakis deliberately: the priority is ONE IEEE " +
        "division of exactly-representable doubles — bit-identical " +
        "across engines, so priority AND estimator are hash-visible — " +
        "where u^(1/w) would ride a libm pow ulp. Plan: one narrow " +
        "scan, TakeOrdered(k+1), finishing steps on the k-bounded " +
        "relation; the length-weighted sample a token-budgeted " +
        "curation mix draws.",
      (s, d) => Curation.prioritySample(
          Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
          "doc_id", col("n_chars"), k = PrioK)
        .select("doc_id", "lang", "weight", "priority", "est_weight")
        .orderBy("doc_id"),
      Some(s"""WITH p AS (
              |  SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS weight,
              |    CAST(n_chars AS DOUBLE) /
              |      ((('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT
              |        + 1) / 4294967296.0) AS priority
              |  FROM documents),
              |r AS (
              |  SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id)
              |    AS rn
              |  FROM p),
              |tau AS (
              |  SELECT min(CASE WHEN rn = ${PrioK + 1} THEN priority END)
              |    AS t
              |  FROM r)
              |SELECT doc_id, lang, weight, priority,
              |  greatest(weight, coalesce(t, 0.0)) AS est_weight
              |FROM r, tau WHERE rn <= $PrioK
              |ORDER BY doc_id""".stripMargin)),

    Q("doc_mix_temperature",
      "Temperature-scaled language mixture (the mT5/XLM-R α-sampling " +
        "recipe, α = 1/2 so the power is ONE exact sqrt): per-lang " +
        "shares flatten to p^α, renormalize through an ORDERED " +
        "left-fold normalizer (bit-replayable by list_reduce — never " +
        "an unordered double sum), and a 10000-doc budget splits by " +
        "largest-remainder apportionment so integer allocations sum " +
        "to the budget EXACTLY. One map-side-combined count is the " +
        "only corpus-sized work.",
      (s, d) => Curation.temperatureMixture(Tables.documents(s, d),
        "lang", budget = MixBudget),
      Some(s"""WITH c AS (
              |  SELECT lang AS key, count(*) AS n_docs
              |  FROM documents GROUP BY 1),
              |n AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn FROM c),
              |sc AS (
              |  SELECT key, n_docs,
              |    CAST(n_docs AS DOUBLE) / nn AS share,
              |    sqrt(CAST(n_docs AS DOUBLE) / nn) AS w_temp
              |  FROM c, n),
              |t AS (SELECT list_reduce(list(w_temp ORDER BY key),
              |        (a, b) -> a + b) AS tot FROM sc),
              |b AS (
              |  SELECT key, n_docs, share, w_temp,
              |    w_temp / tot AS mix_weight,
              |    CAST(floor($MixBudget.0 * (w_temp / tot)) AS BIGINT)
              |      AS base,
              |    $MixBudget.0 * (w_temp / tot)
              |      - floor($MixBudget.0 * (w_temp / tot)) AS rem
              |  FROM sc, t),
              |l AS (SELECT $MixBudget - CAST(sum(base) AS BIGINT)
              |        AS leftover FROM b),
              |r AS (
              |  SELECT *, row_number() OVER (ORDER BY rem DESC, key)
              |    AS rk
              |  FROM b)
              |SELECT key, n_docs, share, w_temp, mix_weight,
              |  base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
              |    AS alloc
              |FROM r, l
              |ORDER BY key""".stripMargin)),

    Q("doc_concentration",
      "Corpus-concentration report: Gini coefficient + top-1% / " +
        "top-10% shares of TOKENS over SOURCES — the 'how much of the " +
        "corpus comes from how few domains' number every curation " +
        "audit reports. Sources group by distinct token-count value, " +
        "so the sorted-rank sum decomposes per tie group as " +
        "v*(c*cumBefore + c(c+1)/2) — integers end to end; Gini and " +
        "each share spend ONE double division. One map-side token " +
        "aggregate + one distinct-value aggregate are the only " +
        "data-sized passes; cumulatives use the two-level binned " +
        "prefix (no global sort).",
      (s, d) => graft.ops.Profile.concentration(
        Tables.documents(s, d)
          .select(col("source"),
            graft.ops.TextAnalysis.tokenCountWs(col("text")).as("__tc"))
          .groupBy(col("source"))
          .agg(sum(col("__tc")).as("tokens")),
        "tokens"),
      Some("""WITH pe AS (
             |  SELECT source,
             |    CAST(sum(CASE WHEN trim(text) = '' THEN 0
             |      ELSE len(string_split_regex(trim(text), '\s+')) END)
             |      AS BIGINT) AS v
             |  FROM documents GROUP BY source),
             |g AS (SELECT v, CAST(count(*) AS BIGINT) AS c
             |      FROM pe GROUP BY v),
             |r AS (
             |  SELECT v, c,
             |    CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cumc,
             |    CAST(sum(CAST(v AS DECIMAL(38,0)) * c) OVER (ORDER BY v)
             |      AS DECIMAL(38,0)) AS cums
             |  FROM g),
             |tot AS (SELECT max(cumc) AS n, max(cums) AS s FROM r),
             |rr AS (
             |  SELECT CAST(sum(CAST(v AS DECIMAL(38,0)) *
             |    (CAST(c AS DECIMAL(38,0)) * (cumc - c) +
             |     (c * (c + 1)) // 2)) AS DECIMAL(38,0)) AS r2
             |  FROM r),
             |b1 AS (
             |  SELECT v, c, cumc, cums, (n * 1 + 99) // 100 AS k
             |  FROM r, tot
             |  WHERE n - cumc < (n * 1 + 99) // 100
             |    AND n - cumc + c >= (n * 1 + 99) // 100),
             |b10 AS (
             |  SELECT v, c, cumc, cums, (n * 10 + 99) // 100 AS k
             |  FROM r, tot
             |  WHERE n - cumc < (n * 10 + 99) // 100
             |    AND n - cumc + c >= (n * 10 + 99) // 100)
             |SELECT tot.n AS n_entities, CAST(tot.s AS BIGINT)
             |    AS total_value,
             |  CAST(2 * rr.r2 - (tot.n + 1) * tot.s AS DOUBLE) /
             |    CAST(CAST(tot.n AS DECIMAL(38,0)) * tot.s AS DOUBLE)
             |    AS gini,
             |  b1.k AS top1_entities,
             |  CAST((tot.s - b1.cums) + b1.v * (b1.k - (tot.n - b1.cumc))
             |    AS DOUBLE) / CAST(tot.s AS DOUBLE) AS top1_share,
             |  b10.k AS top10_entities,
             |  CAST((tot.s - b10.cums) + b10.v *
             |    (b10.k - (tot.n - b10.cumc))
             |    AS DOUBLE) / CAST(tot.s AS DOUBLE) AS top10_share
             |FROM tot, rr, b1, b10""".stripMargin)),

    Q("doc_pii_report",
      "PII incidence report per source - the aggregate view over " +
        "ta_redact's planted-PII surface: docs scanned, docs carrying " +
        "any match, and per-pattern match totals (email / SSN-shaped / " +
        "long-number), all exact integer regexp_extract_all counts " +
        "summed map-side in one scan. The go/no-go slice report a " +
        "release audit reads before the redaction pass ships.",
      (s, d) => Tables.documents(s, d)
        .select(col("source"), piiText.as("t"))
        .select(col("source"),
          Curation.matchCount(col("t"), Curation.EmailRe).as("__e"),
          Curation.matchCount(col("t"), Curation.SsnRe).as("__s"),
          Curation.matchCount(col("t"), Curation.LongNumberRe).as("__i"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__e") + col("__s") + col("__i") > 0, 1L)
            .otherwise(0L)).as("docs_with_pii"),
          sum(col("__e").cast("long")).as("n_emails"),
          sum(col("__s").cast("long")).as("n_ssn"),
          sum(col("__i").cast("long")).as("n_ids"))
        .orderBy(col("source")),
      Some(s"""WITH p AS (
              |  SELECT source, ${piiSql} AS t FROM documents),
              |c AS (
              |  SELECT source,
              |    len(regexp_extract_all(t, '${emailSql}')) AS e,
              |    len(regexp_extract_all(t, '${ssnSql}')) AS s,
              |    len(regexp_extract_all(t, '${numSql}')) AS i
              |  FROM p)
              |SELECT source, count(*) AS n_docs,
              |  CAST(sum(CASE WHEN e + s + i > 0 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS docs_with_pii,
              |  CAST(sum(e) AS BIGINT) AS n_emails,
              |  CAST(sum(s) AS BIGINT) AS n_ssn,
              |  CAST(sum(i) AS BIGINT) AS n_ids
              |FROM c GROUP BY source ORDER BY source""".stripMargin))
  )
}
