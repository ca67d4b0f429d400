package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for large-scale training-data pipelines
  * (north-star extensions alongside [[TextAnalysis]]): PII redaction,
  * sequence packing, and deterministic stratified sampling.
  *
  * Scale design notes:
  *  - Redaction is a pure `regexp_replace` expression chain — codegen'd,
  *    runs inside the scan's project stage, no shuffle at any scale.
  *  - Packing does its cumulative sum PER SHARD (`partitionBy` column),
  *    never globally: a global ordered cumsum would serialize 100 TB
  *    through one window partition, while per-shard packing is the
  *    semantics training pipelines actually use (each input shard becomes
  *    an independent stream of fixed-budget sequences).
  *  - Sampling is hash-threshold based (md5 of the id), so it is
  *    deterministic, reproducible across runs/engines, needs no RNG state,
  *    and pushes down as a plain filter — the standard lake-scale
  *    alternative to `sample()`'s per-partition RNG.
  */
object Curation {

  /** Session conf key: a barrier whose MEASURED
    * materialized size (actual block-manager bytes of the eager
    * localCheckpoint, memory + disk) reaches this many bytes is
    * PROMOTED to a reliable checkpoint. Default 64 GiB: the r14
    * composition probe measured every flagship barrier but s1
    * post-filter-small (≤1 GB at 100× = 500k docs), while s1 scales
    * with the corpus (~2 TB at 1B docs) — so on a real 100 TB run the
    * one corpus-scale barrier auto-flips to the replicated write
    * (whose cost it dwarfs with its recompute cascade), and bench/
    * interactive runs never pay a replicated write. 0 promotes every
    * barrier (the conservative setting for multi-hour runs).
    */
  val BarrierReliableBytesKey = "graft.pipeline.barrierReliableBytes"

  /** Default auto-promote threshold: 64 GiB. */
  val DefaultBarrierReliableBytes: Long = 64L << 30

  /** A lineage-cut STAGE BARRIER for multi-stage curation programs (the
    * pretrain_pipeline flagship): without one, AQE re-optimizes the
    * whole accumulated logical tree at every downstream exchange —
    * measured 15s of pure driver re-planning vs <1s execution at
    * sf0.01 for the nine-stage chain.
    *
    * SIZE-ADAPTIVE (the r14 probe's decision rule, made automatic):
    * the barrier first materializes as an eager `localCheckpoint`
    * (executor-local blocks — no replicated write), its ACTUAL bytes
    * are read from the block manager, and iff they reach
    * [[BarrierReliableBytesKey]] the already-materialized blocks are
    * re-written as a reliable checkpoint to the Spark checkpoint
    * directory (set lazily if absent; one O(barrier) local read +
    * replicated write — no recompute of the upstream chain) and the
    * local copy is released. Small barriers — all of them at bench
    * scale — never pay a replicated write; a corpus-scale barrier on
    * a long run does, because there a single executor-loss recompute
    * cascade costs more than the write. Same rows, same plan
    * downstream, same oracle on every path (spec-pinned).
    */
  def stageBarrier(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val threshold = graft.core.Config.confLong(spark,
      BarrierReliableBytesKey, DefaultBarrierReliableBytes)
    // the barrier's persisted RDD is read DIRECTLY off the
    // checkpointed Dataset's plan (its LogicalRDD leaf), so the
    // measurement — and, on promote, the release — targets exactly
    // this barrier. An id-diff of getPersistentRDDs around the call
    // would mis-attribute anything another thread persists
    // concurrently (and unpersist a foreign live cache on promote).
    val local = df.localCheckpoint()
    val newIds = org.apache.spark.sql.graft.Shims
      .logicalRddIds(local).toSet
    // getRDDStorageInfo reads the async status store: drain the
    // listener bus first or the just-written blocks may not be
    // visible yet (an under-read could only skip a deserved
    // promotion, never corrupt data — but measure properly). A
    // failed drain is best-effort by contract.
    org.apache.spark.sql.graft.Shims.drainListenerBus(sc)
    val bytes = sc.getRDDStorageInfo
      .filter(i => newIds.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    if (bytes < threshold) local
    else {
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(
          sys.props.getOrElse("java.io.tmpdir", "/tmp") +
            "/graft_checkpoints")
      val promoted = local.checkpoint()
      sc.getPersistentRDDs.collect {
        case (id, rdd) if newIds.contains(id) => rdd
      }.foreach(_.unpersist(blocking = false))
      promoted
    }
  }

  /** PII patterns, portable across Java regex and RE2 (no backrefs,
    * no lookaround): email, international-ish phone, SSN shape, and long
    * digit runs (account/record ids).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val LongNumberRe = "\\b\\d{6,}\\b"

  /** Ordered redaction passes: (pattern, replacement). Email first so its
    * digits are gone before number scrubbing; same order must be used in
    * any oracle restatement.
    */
  val passes: Seq[(String, String)] = Seq(
    EmailRe -> "<EMAIL>", SsnRe -> "<SSN>", LongNumberRe -> "<ID>")

  /** Redacted text: every pass applied in [[passes]] order. */
  def redact(text: Column): Column =
    passes.foldLeft(text) { case (c, (re, tag)) => regexp_replace(c, re, tag) }

  /** Overlapping token-window chunks — the document chunker every
    * RAG/pretraining ingest runs: word window of `size` tokens advancing
    * by `stride` (stride < size ⇒ overlap preserves cross-boundary
    * context). One chunk array per row, built entirely inside the scan
    * projection (slice over the split array — no explode needed until
    * the caller wants chunk rows, no shuffle ever). Every word appears
    * in ≥1 chunk: the final window is PINNED to the document end (its
    * overlap with the previous window widens when (n−size) % stride ≠ 0
    * — the standard tail rule, never a dropped suffix). Blank text
    * yields an empty array.
    */
  def chunkTokens(text: Column, size: Int, stride: Int): Column = {
    require(size >= 1 && stride >= 1 && stride <= size,
      "need 1 <= stride <= size")
    val w = split(trim(text), "\\s+")
    val n = org.apache.spark.sql.functions.size(w)
    val maxStart = greatest(n - size + 1, lit(1))
    // ascending strided starts + the end-pinned tail start; input is
    // ascending so array_distinct keeps it ascending
    val starts = array_distinct(concat(
      sequence(lit(1), maxStart, lit(stride)), array(maxStart)))
    when(trim(text) === "", array().cast("array<string>"))
      .otherwise(transform(starts,
        s => concat_ws(" ", slice(w, s, lit(size)))))
  }

  /** HTML entity decode pairs, applied AFTER tag stripping; `&amp;` is
    * decoded LAST so `&amp;lt;` ends as `&lt;` (literal), not `<` —
    * the standard double-decode guard. Shared with the oracle SQL.
    */
  val entityPasses: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  /** C4-style markup stripping for web-scraped corpora: drop
    * script/style blocks (their bodies are code, and stray `<`
    * comparisons inside would break naive tag regexes), strip remaining
    * tags, decode the common entities, collapse whitespace. Every pass
    * is RE2-safe (no backreferences/lookaround) so the exact chain
    * restates in DuckDB, and the whole thing is one projection over the
    * scan — markup removal runs at scan speed at corpus scale.
    */
  def stripMarkup(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "(?s)<[^>]+>", " ")
    val decoded = entityPasses.foldLeft(noTags) {
      case (c, (e, v)) => replace(c, lit(e), lit(v))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Count of matches of one pattern against the ORIGINAL text (counting
    * before any replacement keeps the per-pattern counts independent of
    * pass order).
    */
  def matchCount(text: Column, re: String): Column =
    size(call_function("regexp_extract_all", text, lit(re), lit(0))).cast("long")

  /** Sequence packing (concat-and-chop): assign each document, in
    * deterministic `orderCol` order within its `shardCol` partition, to a
    * fixed-token-budget training sequence. `seq_id` is
    * floor(tokens-before-this-doc / budget) — the standard "concatenate
    * the shard, cut every `budget` tokens" packing, restated so it needs
    * only one window cumsum instead of an iterative packer. Documents
    * longer than the budget still land in exactly one sequence (they'd be
    * split downstream by the tokenizer; the assignment stays
    * deterministic).
    *
    * Adds `n_tokens` (whitespace tokens) and `seq_id` columns.
    */
  def packSequences(df: DataFrame, shardCol: String, orderCol: String,
                    textCol: String, budget: Int): DataFrame = {
    val w = Window.partitionBy(shardCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens", TextAnalysis.tokenCountWs(col(textCol)))
      .withColumn("seq_id",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / budget))
  }

  /** Corpus snapshot diff — dataset versioning's core primitive: compare
    * two snapshots of a keyed corpus by content fingerprint and label
    * every id `added` / `removed` / `changed` / `unchanged`. This is what
    * a training-data registry records between crawl refreshes, and what
    * incremental reprocessing keys off (only `added`+`changed` re-enter
    * the pipeline).
    *
    * Plan shape at 100 TB: md5 fingerprints are computed in each side's
    * scan stage (the text column never shuffles — only id + 32-byte
    * hash), then ONE co-partitioned full-outer join on the id. Status is
    * a null-safe projection over the join. No skew risk beyond the id
    * key itself.
    */
  def snapshotDiff(prev: DataFrame, cur: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val p = prev.select(col(idCol), md5(col(textCol)).as("__ph"))
    val c = cur.select(col(idCol).as("__cid"), md5(col(textCol)).as("__ch"))
    p.join(c, col(idCol) === col("__cid"), "full_outer")
      .select(
        coalesce(col(idCol), col("__cid")).as(idCol),
        when(col(idCol).isNull, lit("added"))
          .when(col("__cid").isNull, lit("removed"))
          // null-safe: a NULL-text row present in both snapshots is
          // UNCHANGED (md5(NULL) = NULL would otherwise null the plain
          // equality and fall through to 'changed', making incremental
          // reprocessing re-ingest every NULL-text row forever)
          .when(col("__ph") <=> col("__ch"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Epoch-weighted upsampling — the other half of mixture building:
    * sources with rates ABOVE 1 (curated corpora a pretraining mix sees
    * several times per epoch, e.g. 3.3 epochs of books) replicate rows
    * instead of filtering them. Each row gets `floor(rate)` copies plus
    * one more when its [[hashBucket]] falls under the fractional
    * remainder — deterministic (stable across retries, no RNG state),
    * and in expectation each source contributes exactly `rate · n` rows.
    * An `epoch` column (0-based copy index) disambiguates replicas so
    * downstream shuffles/shards treat them as distinct rows.
    *
    * Plan shape: a scan-stage `explode(sequence(...))` — rows expand in
    * the map stage with no shuffle; rates arrive as a literal CASE over
    * the (tiny) source map, so there is no dimension join at all.
    */
  def epochUpsample(df: DataFrame, strataCol: String, idCol: String,
                    rates: Map[String, Double], defaultRate: Double): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(_ >= 0), "rates >= 0")
    val rateCol = rateCase(strataCol, rates, defaultRate)
    val base = floor(rateCol).cast("long")
    val extra = when(
      hashBucket(col(idCol)) < (rateCol - base) * 65536, 1L).otherwise(0L)
    df.withColumn("__g_n", base + extra)
      .filter(col("__g_n") > 0)
      .withColumn("epoch",
        explode(sequence(lit(0L), col("__g_n") - 1)))
      .drop("__g_n")
  }

  /** First 4 hex digits of md5(id) as a uniform value in [0, 65536) — the
    * deterministic coin for sampling decisions, identical in any engine
    * with md5.
    */
  def hashBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long")

  /** Deterministic stratified sample: keep a row when its hash bucket
    * falls under its stratum's rate. Rates are per stratum value with a
    * default; reproducible row-level decisions (no RNG, no seed drift
    * across retries/partitions) and the filter pushes down to the scan.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       rates: Map[String, Double], defaultRate: Double): DataFrame =
    df.filter(hashBucket(col(idCol)) <
      rateCase(strataCol, rates, defaultRate) * 65536)

  /** Quality-weighted SOFT sampling (the FineWeb/DCLM-style soft
    * filter): instead of a hard keep/drop threshold on the quality
    * score, every row keeps with probability `minRate + (maxRate −
    * minRate) · clamp(score, 0, 1)` — low-quality text is DOWNSAMPLED,
    * not erased (hard thresholds throw away the distribution tail a
    * model still needs some exposure to), and high-quality text is
    * kept at up to `maxRate`. The coin is the deterministic
    * [[hashBucket]] (no RNG state, stable across retries and engines);
    * the rate is pure +/× arithmetic on the score (no pow — a libm
    * fractional exponent could drift an ulp across engines and flip a
    * boundary decision), so the whole decision is a scan-stage filter
    * that pushes down like any other predicate.
    */
  def qualityWeightedSample(df: DataFrame, idCol: String, score: Column,
                            minRate: Double, maxRate: Double): DataFrame = {
    require(minRate >= 0 && maxRate <= 1 && minRate <= maxRate,
      "0 <= minRate <= maxRate <= 1")
    val rate = (lit(minRate) +
      (lit(maxRate) - lit(minRate)) *
        least(greatest(score, lit(0.0)), lit(1.0))).as("rate")
    df.withColumn("rate", rate)
      .filter(hashBucket(col(idCol)) < col("rate") * 65536)
  }

  /** Weighted sampling WITHOUT replacement by PRIORITY SAMPLING
    * (Duffield, Lund & Thorup, "Priority sampling for estimation of
    * arbitrary subset sums", JACM 2007): each row gets priority
    * `q = w / u` with `u` a deterministic md5-derived uniform in (0,1],
    * the k highest priorities are the sample, and `τ` = the (k+1)-th
    * priority yields the unbiased per-row weight estimator
    * `ŵ = max(w, τ)` (Σ ŵ over the sample estimates Σ w over the
    * population, with near-optimal variance among k-sample schemes).
    *
    * Chosen over Efraimidis–Spirakis (`u^(1/w)` keys) deliberately: the
    * priority is ONE IEEE division of two exactly-representable doubles
    * — bit-identical across engines — where a libm `pow` could drift an
    * ulp and flip the selection boundary (the [[qualityWeightedSample]]
    * discipline). No RNG state: the uniform is a pure function of the
    * id, so the sample is stable across retries, partitionings, and
    * engines, and the oracle replays it exactly.
    *
    * Scale shape: one narrow scan computes priorities, TakeOrdered
    * keeps k+1 rows (per-partition top-(k+1), driver merge — no global
    * sort), and the τ/ŵ finishing steps run on that k-bounded relation
    * (the window is a single tiny partition by construction).
    *
    * @return the k sampled rows plus (weight, priority, est_weight);
    *         when the population has ≤ k rows, τ = 0 and ŵ = w.
    */
  def prioritySample(df: DataFrame, idCol: String, weight: Column,
                     k: Int): DataFrame = {
    require(k >= 1, s"prioritySample: k must be >= 1, got $k")
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") + 1.0) / 4294967296.0
    val pri = (weight.cast("double") / u).as("priority")
    val top = df.withColumn("weight", weight.cast("double"))
      .withColumn("priority", pri)
      .orderBy(col("priority").desc, col(idCol).asc)
      .limit(k + 1)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("priority").desc, col(idCol).asc)
    val ranked = graft.core.Caches.track(
      top.withColumn("__rn", row_number().over(w)))
    val tau = ranked
      .agg(min(when(col("__rn") === k + 1, col("priority"))).as("__tau"))
    ranked.filter(col("__rn") <= k)
      .crossJoin(broadcast(tau))
      .withColumn("est_weight",
        greatest(col("weight"), coalesce(col("__tau"), lit(0.0))))
      .drop("__rn", "__tau")
  }

  /** Temperature-scaled mixture weights with an EXACT integer
    * allocation — the multilingual sampling recipe of mT5/XLM-R
    * (Conneau et al. 2020 §3.1): raw key shares p_k are flattened to
    * p_k^α (α = 1/2 FIXED, so the power is ONE correctly-rounded
    * `sqrt` — a general α would ride libm `pow`, the repo-wide
    * no-libm rule), renormalized, and a document budget is split by
    * LARGEST-REMAINDER apportionment so the integer allocations sum to
    * the budget exactly (floor(B·w) each, the B − Σfloor leftover
    * going to the largest fractional remainders, ties to key order).
    *
    * Exactness: the normalizer Σ w_k is an ORDERED left fold over the
    * key-sorted weights (collect_list of the bounded key relation →
    * `aggregate`), bit-replayable by list_reduce in SQL — never an
    * unordered double SUM. Corpus-sized work is ONE map-side-combined
    * count; everything after runs on the keys-sized relation.
    *
    * @return one row per key: (key, n_docs, share, w_temp, mix_weight,
    *         alloc) with Σ alloc = budget.
    */
  def temperatureMixture(df: DataFrame, keyCol: String,
                         budget: Long): DataFrame = {
    require(budget >= 0, "non-negative budget")
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("__N"))
    val scored = graft.core.Caches.track(
      counts.crossJoin(broadcast(total))
        .withColumn("share", col("n_docs").cast("double") / col("__N"))
        .withColumn("w_temp", sqrt(col("share"))))
    // ordered fold normalizer: 0.0 + w_1 + w_2 + ... in key order
    // (0 + x == x exactly, so this equals SQL list_reduce's fold)
    val tot = scored.agg(
      aggregate(
        array_sort(collect_list(struct(col("key"), col("w_temp")))),
        lit(0.0), (acc, x) => acc + x.getField("w_temp")).as("__tot"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__rem").desc, col("key").asc)
    val based = graft.core.Caches.track(
      scored.crossJoin(broadcast(tot))
        .withColumn("mix_weight", col("w_temp") / col("__tot"))
        .withColumn("__exact", lit(budget).cast("double") * col("mix_weight"))
        .withColumn("__base", floor(col("__exact")).cast("long"))
        .withColumn("__rem", col("__exact") - col("__base")))
    val leftover = based.agg((lit(budget) - sum(col("__base"))).as("__left"))
    based.crossJoin(broadcast(leftover))
      .withColumn("__rk", row_number().over(w))
      .select(col("key"), col("n_docs"), col("share"), col("w_temp"),
        col("mix_weight"),
        (col("__base") +
          when(col("__rk") <= col("__left"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy(col("key"))
  }

  /** EXACT global top-`frac` selection by `(score desc, id asc)` WITHOUT
    * a global sort — the "keep the best 20% of the corpus" curation cut
    * that naive implementations spell `row_number() OVER (ORDER BY q)`,
    * which serializes the entire corpus through one window partition.
    *
    * Two-pass distributed selection instead:
    *  1. ONE aggregate builds a `buckets`-bin histogram of
    *     `floor(score·B)` (map-side combinable; ≤ B rows reach the
    *     driver) — this also yields the total count, so no separate
    *     count pass. The driver walks the histogram top-down to find the
    *     threshold bucket b* and how many rows `kRem` are still needed
    *     from it.
    *  2. Every row in a bucket above b* is kept by a pushed-down filter
    *     (zero shuffles); ONLY the threshold bucket's rows — expected
    *     n/B of the corpus — pass through a rank window to take the
    *     best `kRem` by `(score desc, id asc)`.
    *
    * Bucketing is monotone in the score, so "all buckets above b* plus
    * the top of b*" IS the global top-k — bit-for-bit the rows a global
    * sort would select, at the cost of one bounded aggregate and one
    * small window. Degenerate distributions (all mass in one bucket —
    * e.g. a constant score) degrade the window to the full corpus;
    * `buckets` = 4096 over the score's [0,1] domain keeps the expected
    * window input at 0.02% of the corpus for any real quality
    * distribution.
    *
    * `score` must lie in [0,1] (values are clamped into the edge
    * buckets, which preserves correctness but can concentrate mass if
    * the domain assumption is wrong). `k = ceil(frac·n)` rows are
    * returned, with the id tie-break making the cut deterministic.
    */
  def selectTopFrac(df: DataFrame, idCol: String, score: Column,
                    frac: Double, buckets: Int = 4096): DataFrame = {
    require(frac >= 0 && frac <= 1, "0 <= frac <= 1")
    // NULL scores are excluded before bucketing (a NULL bucket group
    // would NPE the histogram walk): a row whose quality is unknown
    // cannot rank in a top-fraction cut, matching the stratified
    // variant's null handling
    val scored = graft.core.Caches.track(df.withColumn("__g_q", score)
      .filter(col("__g_q").isNotNull)
      .withColumn("__g_bkt",
        least(greatest(floor(col("__g_q") * buckets), lit(0)),
          lit(buckets - 1)).cast("int")))
    val hist = scored.groupBy(col("__g_bkt")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = hist.valuesIterator.sum
    val k = math.ceil(frac * n).toLong
    if (k == 0L) {
      scored.filter(lit(false)).drop("__g_bkt")
    } else {
      // walk buckets top-down: rows above b* are all in; kRem come from b*
      var above = 0L
      var bStar = buckets - 1
      var i = buckets - 1
      var found = false
      while (i >= 0 && !found) {
        val c = hist.getOrElse(i, 0L)
        if (above + c >= k) { bStar = i; found = true }
        else { above += c; i -= 1 }
      }
      val kRem = k - above
      val upper = scored.filter(col("__g_bkt") > bStar)
      val border = scored.filter(col("__g_bkt") === bStar)
        .withColumn("__g_rn",
          row_number().over(Window.partitionBy(lit(1))
            .orderBy(col("__g_q").desc, col(idCol).asc)))
        .filter(col("__g_rn") <= kRem)
        .drop("__g_rn")
      upper.unionByName(border).drop("__g_bkt")
    }
  }

  /** [[selectTopFrac]] per stratum — "the best `frac` of EVERY language
    * / source", the cut production curation actually ships (a global cut
    * silently drains low-resource strata because quality scores are not
    * calibrated across languages). Same two-pass selection, vectorized
    * over strata:
    *
    *  1. ONE aggregate builds the (stratum × bucket) histogram —
    *     bounded by |strata|·B rows (strata are languages/sources:
    *     inherently small); the driver finds each stratum's threshold
    *     bucket and residual count.
    *  2. The per-stratum thresholds become a literal CASE filter (the
    *     [[rateCase]] idiom), and the rank window partitions BY STRATUM
    *     over only the threshold-bucket rows — every stratum's border
    *     ranks in parallel, each window seeing ~n_s/B rows.
    *
    * NULL strata are selected like any other stratum (null-safe CASE
    * arms), mirroring temperatureMixture's null-stratum contract.
    */
  def selectTopFracByStratum(df: DataFrame, idCol: String, strataCol: String,
                             score: Column, frac: Double,
                             buckets: Int = 4096): DataFrame = {
    require(frac >= 0 && frac <= 1, "0 <= frac <= 1")
    // NULL scores excluded as in selectTopFrac (NULL strata still
    // select normally — only the SCORE must be known to rank)
    val scored = graft.core.Caches.track(df.withColumn("__g_q", score)
      .filter(col("__g_q").isNotNull)
      .withColumn("__g_bkt",
        least(greatest(floor(col("__g_q") * buckets), lit(0)),
          lit(buckets - 1)).cast("int")))
    val hist: Map[Any, Map[Int, Long]] = scored
      .groupBy(col(strataCol).as("__g_s"), col("__g_bkt"))
      .agg(count(lit(1)).as("n")).collect()
      .groupBy(_.get(0)).view
      .mapValues(_.map(r => r.getInt(1) -> r.getLong(2)).toMap).toMap
    // per-stratum threshold bucket + residual, the selectTopFrac walk
    val cuts: Map[Any, (Int, Long)] = hist.map { case (s, h) =>
      val k = math.ceil(frac * h.valuesIterator.sum).toLong
      if (k == 0L) s -> (buckets, 0L) // above-filter can never fire
      else {
        var above = 0L; var i = buckets - 1; var bStar = -1
        while (i >= 0 && bStar < 0) {
          val c = h.getOrElse(i, 0L)
          if (above + c >= k) bStar = i
          else { above += c; i -= 1 }
        }
        s -> (bStar, k - above)
      }
    }
    val strataLit = (v: Any) =>
      if (v == null) lit(null) else lit(v)
    // fallback = buckets: a stratum somehow absent from the histogram
    // (impossible for in-data values) selects nothing rather than all
    val bStarCase = cuts.foldLeft(lit(buckets)) { case (rest, (s, (b, _))) =>
      when(col(strataCol) <=> strataLit(s), lit(b)).otherwise(rest)
    }
    val kRemCase = cuts.foldLeft(lit(0L)) { case (rest, (s, (_, kr))) =>
      when(col(strataCol) <=> strataLit(s), lit(kr)).otherwise(rest)
    }
    val upper = scored.filter(col("__g_bkt") > bStarCase)
    val border = scored.filter(col("__g_bkt") === bStarCase)
      .withColumn("__g_rn",
        row_number().over(Window.partitionBy(col(strataCol))
          .orderBy(col("__g_q").desc, col(idCol).asc)))
      .filter(col("__g_rn") <= kRemCase)
      .drop("__g_rn")
    upper.unionByName(border).drop("__g_bkt")
  }

  /** Per-stratum rate as a literal CASE over the (tiny) rate map —
    * shared by [[stratifiedSample]] and [[epochUpsample]] so rate
    * semantics can never drift between the two.
    */
  private def rateCase(strataCol: String, rates: Map[String, Double],
                       defaultRate: Double): Column =
    rates.foldLeft(lit(defaultRate)) { case (rest, (k, r)) =>
      when(col(strataCol) === k, lit(r)).otherwise(rest)
    }

  /** Deterministic train/validation/test split assignment: each row's
    * [[hashBucket]] (md5-derived, uniform over [0, 65536)) is compared
    * against the CUMULATIVE integer thresholds of the requested
    * fractions, and the row gets the label of the first band it falls
    * under (any remainder bucket left by the floor of the 65536
    * quantization lands in the LAST label, so the assignment is total).
    *
    * Why this and not `randomSplit`: split membership must be a pure
    * function of the row's id — stable across reruns, retries, engine
    * versions, and partition layouts. A train/test boundary that moves
    * between runs is silent test-set contamination, the worst corruption
    * a training pipeline can have. Here rerunning on yesterday's corpus
    * plus new rows never reassigns an old row.
    *
    * Plan shape at 100 TB: a scan-stage projection — zero shuffles, zero
    * aggregates; composes under whatever partitioning the writer wants.
    * Thresholds are integers (`floor(cumFrac · 65536)`) so the
    * comparison is exact in any engine with md5.
    */
  def assignSplit(df: DataFrame, idCol: String,
                  splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1: $splits")
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
      .map(f => math.floor(f * 65536).toLong)
    val bucket = hashBucket(col(idCol))
    val label = splits.init.zip(cum.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), thr), rest) =>
      when(bucket < thr, lit(name)).otherwise(rest)
    }
    df.withColumn("split", label)
  }

  /** Exact-k-per-stratum sample: the k rows with the SMALLEST md5(id)
    * inside every stratum — a deterministic reservoir (same k rows on
    * every rerun, any partitioning, any engine), ranked so the output
    * carries a stable `rk` in 1..k.
    *
    * Scale design — the naive form (`row_number` over
    * `partitionBy(stratum)`) funnels every row of a stratum through one
    * window partition: a 10¹¹-row web-crawl stratum serializes on a
    * single task. Here the window only ever sees a PREFILTERED sliver:
    * per-stratum counts (tiny, map-side-combined) size a hash-bucket
    * threshold keeping ~`oversample`·k rows (floor: the 16-bit bucket
    * granularity keeps ≥ n/65536), the threshold dimension broadcasts
    * back, and rows outside it are dropped at the scan. Because the
    * bucket is the md5's own 4-hex prefix, the filter is MONOTONE in the
    * ranking key — it can only cut rows strictly above the k-th rank, so
    * the survivor set provably contains the true top-k UNLESS the bucket
    * histogram undershoots (P < e^-k by Chernoff at 4× oversampling);
    * that case is not silent: a codegen'd `raise_error` guard fails the
    * job and says to raise `oversample`.
    */
  def exactKPerStratum(df: DataFrame, strataCol: String, idCol: String,
                       k: Int, oversample: Int = 4): DataFrame = {
    require(k > 0 && oversample >= 2, s"need k>0, oversample>=2: $k, $oversample")
    // effective expected survivor count >= 16 so even the k=1 case has
    // P(zero survivors in a huge stratum) <= e^-16 — the one failure the
    // row-level guard below cannot see (no surviving row to evaluate it)
    val os = math.max(oversample.toDouble, 16.0 / k)
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
    val thr = least(lit(65536L), greatest(lit(1L),
      ceil(lit(os * k) * 65536 / col("__n")).cast("long")))
    val dim = counts.select(col(strataCol).as("__g_strata"), col("__n"),
      thr.as("__t"))
    val pre = df.join(broadcast(dim), col(strataCol) <=> col("__g_strata"))
      .filter(hashBucket(col(idCol)) < col("__t"))
    val key = md5(col(idCol).cast("string"))
    val w = Window.partitionBy(col(strataCol)).orderBy(key.asc, col(idCol).asc)
    val wAll = Window.partitionBy(col(strataCol))
    pre
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("__kept", count(lit(1)).over(wAll))
      // fail fast instead of silently returning fewer than k rows when
      // the prefilter undershot (it can never overshoot: the bucket is
      // the ranking key's own prefix, so cuts only hit ranks above k)
      .filter(col("rk") <= k &&
        when(col("__kept") < least(lit(k.toLong), col("__n")),
          raise_error(lit(s"exactKPerStratum: prefilter undershot k=$k — " +
            "raise oversample"))).otherwise(lit(true)))
      .drop("__g_strata", "__n", "__t", "__kept")
  }

  /** NEYMAN-allocation stratified sample (Neyman 1934): a total budget
    * splits across strata ∝ N_h·σ_h — variable strata get more of the
    * budget than their share of rows, because that's where sample
    * variance hides; the optimal allocation for estimating a stratified
    * mean, and the statistically-motivated sibling of the proportional
    * mixture samplers here. Per-stratum sizes derive in-plan from one
    * exact-moment aggregate: σ from integer-valued `valueCol`'s exact
    * decimal sums (the division-first moment form), the weight N·σ
    * rounded to an integer so the budget split
    * k_h = min(N_h, budget·w_h DIV Σw) is PURE INTEGER arithmetic —
    * engine-exact with no order-dependent float summation across
    * strata. Selection per stratum is the md5-ranked deterministic
    * draw with [[exactKPerStratum]]'s prefilter discipline (the bucket
    * is the ranking key's own prefix, so the cut only removes ranks
    * above k_h and the output is prefilter-invariant; an undershoot
    * raises instead of silently under-sampling). Bounded-strata
    * contract, as every stratified operator here.
    */
  def neymanSample(df: DataFrame, strataCol: String, idCol: String,
                   valueCol: String, totalBudget: Long,
                   oversample: Int = 4): DataFrame = {
    require(totalBudget > 0, "positive budget")
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val v = col(valueCol).cast("long")
    val stats = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("__n"),
        sum(v.cast(dec)).cast("double").as("__s"),
        sum((v * v).cast(dec)).cast("double").as("__s2"))
    val sigma = sqrt(greatest(
      col("__s2") / col("__n") -
        (col("__s") / col("__n")) * (col("__s") / col("__n")), lit(0.0)))
    val weighted = stats.withColumn("__wq",
      round(col("__n") * sigma).cast("long"))
    val tot = weighted.agg(sum(col("__wq")).as("__W"))
    val dim = weighted.crossJoin(broadcast(tot))
      .filter(col("__W") > 0)
      .select(col(strataCol).as("__g_strata"), col("__n"),
        least(col("__n"),
          expr(s"($totalBudget * __wq) div __W")).as("__kh"))
    val thr = least(lit(65536L), greatest(lit(1L),
      ceil(greatest(lit(oversample.toDouble) * col("__kh"), lit(16.0)) *
        65536 / col("__n")).cast("long")))
    val key = md5(col(idCol).cast("string"))
    val w = Window.partitionBy(col(strataCol)).orderBy(key.asc, col(idCol).asc)
    val wAll = Window.partitionBy(col(strataCol))
    df.join(broadcast(dim.withColumn("__t", thr)),
        col(strataCol) <=> col("__g_strata"))
      .filter(hashBucket(col(idCol)) < col("__t"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("__kept", count(lit(1)).over(wAll))
      .filter(col("rk") <= col("__kh") &&
        when(col("__kept") < least(col("__kh"), col("__n")),
          raise_error(lit("neymanSample: prefilter undershot — raise " +
            "oversample"))).otherwise(lit(true)))
      .withColumn("n_h", col("__kh"))
      .drop("__g_strata", "__n", "__t", "__kept", "__kh")
  }

  /** Temperature-weighted source mixture — the training-mix sampler
    * (UnifiedQA / GPT-3 style): source `i` with `n_i` documents gets
    * sampling probability `p_i ∝ n_i^alpha`, so `alpha = 1` keeps natural
    * proportions, `alpha = 0` gives every source equal weight, and values
    * in between up-sample small/curated sources relative to web-scale
    * ones. To realize the mix as a deterministic filter, each source's
    * keep rate is `min(1, targetFrac·N·p_i / n_i)` and a row survives
    * when its [[hashBucket]] falls under the rate.
    *
    * Plan shape at 100 TB: one map-side-combined `groupBy(strata).count`
    * (the only shuffle, over a handful of keys), a cross join of the
    * per-source counts against their 1-row total (both tiny), and a
    * broadcast join of the resulting rate dimension back onto the corpus
    * — the big side is never shuffled, and the row decision is
    * hash-threshold (no RNG state, identical on retry and across
    * engines).
    *
    * Cross-engine exactness: `alpha = 0.5` uses `sqrt` (IEEE
    * correctly-rounded everywhere); other alphas use `pow`, whose last
    * ulp may differ across libm implementations — oracle restatements
    * should stick to 0.5. Each weight is cast to DECIMAL(38,14) before
    * the sum so the total is order-independent, then the rate arithmetic
    * is fixed-order double ops.
    *
    * NULL strata are a first-class source: `groupBy` already counts the
    * NULL group, and the rate dimension joins back NULL-SAFELY (`<=>`),
    * so NULL-strata rows are sampled at their own group's rate instead
    * of silently vanishing through an inner equi-join's null-key drop.
    */
  def temperatureMixture(df: DataFrame, strataCol: String, idCol: String,
                         alpha: Double, targetFrac: Double): DataFrame = {
    val nD = col("__g_n").cast("double")
    val weight =
      if (alpha == 0.5) sqrt(nD)
      else if (alpha == 1.0) nD
      else pow(nD, alpha)
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__g_n"))
    val totals = counts.agg(
      sum("__g_n").cast("double").as("__g_total"),
      sum(weight.cast("decimal(38,14)")).cast("double").as("__g_wsum"))
    val rates = counts.crossJoin(totals).select(
      col(strataCol).as("__g_strata"),
      least(lit(1.0),
        lit(targetFrac) * col("__g_total") * weight / col("__g_wsum") / nD)
        .as("__g_rate"))
    df.join(broadcast(rates), col(strataCol) <=> col("__g_strata"))
      .filter(hashBucket(col(idCol)) < col("__g_rate") * 65536)
      .drop("__g_strata", "__g_rate")
  }

  /** The token-budget plan behind a [[temperatureMixture]] run — the
    * table a data-mixing decision is actually made from, because
    * mixtures are allocated in TOKENS, not documents (a source of long
    * documents eats budget faster than its doc share suggests). One
    * map-side-combined pass computes per-stratum doc and token counts;
    * the totals are a 1-row broadcast; every downstream number
    * (shares, the alpha-tempered sampling rate, the expected doc and
    * token draws under that rate) is arithmetic on those integers, so
    * the whole plan is one exchange over |strata| rows regardless of
    * corpus size. The rate column is EXACTLY [[temperatureMixture]]'s
    * (same weight, same least(1, ·) cap): this is the dry-run report
    * for the sampler that then materializes it.
    *
    * Expected token draw assumes sampling-uniform-within-stratum (the
    * hash sampler's behavior): exp_tokens = rate · n_tokens.
    */
  def tokenBudget(df: DataFrame, strataCol: String, textCol: String,
                  alpha: Double, targetFrac: Double): DataFrame = {
    val nD = col("__g_n").cast("double")
    val weight =
      if (alpha == 0.5) sqrt(nD)
      else if (alpha == 1.0) nD
      else pow(nD, alpha)
    val counts = df.groupBy(col(strataCol)).agg(
      count(lit(1)).as("__g_n"),
      sum(graft.ops.TextAnalysis.tokenCountWs(col(textCol))).as("__g_tok"))
    val totals = counts.agg(
      sum("__g_n").cast("double").as("__g_total"),
      sum("__g_tok").cast("double").as("__g_tok_total"),
      sum(weight.cast("decimal(38,14)")).cast("double").as("__g_wsum"))
    val rate = least(lit(1.0),
      lit(targetFrac) * col("__g_total") * weight / col("__g_wsum") / nD)
    counts.crossJoin(broadcast(totals)).select(
      col(strataCol),
      col("__g_n").as("n_docs"),
      col("__g_tok").as("n_tokens"),
      (nD / col("__g_total")).as("doc_share"),
      (col("__g_tok").cast("double") / col("__g_tok_total"))
        .as("token_share"),
      rate.as("rate"),
      (rate * nD).as("exp_docs"),
      (rate * col("__g_tok").cast("double")).as("exp_tokens"))
  }

  /** Seeded deterministic corpus shuffle into training shards — the
    * write-side of every pretraining run: break row-order correlations
    * (sources arrive clustered; training wants them interleaved) and
    * emit shard files a data loader can stream independently.
    *
    * Each row draws a reproducible key `md5(seed || ':' || id)`; its
    * shard is the key's first 4 hex digits mod `nShards`, and its
    * position is the key's rank WITHIN that shard. Determinism is total
    * (same seed ⇒ same order, on any engine with md5, across retries);
    * a different seed reshuffles everything.
    *
    * Plan shape at 100 TB: this is ONE hash-partitioned exchange on
    * `shard` followed by a per-shard sort — `row_number` runs over
    * `partitionBy(shard)`, never a global window, so shards sort in
    * parallel and no single task sees more than ~corpus/nShards rows.
    * (An EXACT-fixed-size variant would need a global row_number — a
    * serialization point this design deliberately avoids; hash balance
    * across 65536 key values keeps shard sizes within sampling noise,
    * which is what real shard writers accept too.)
    *
    * Output: the input columns plus (shard, pos) — a payload-bearing
    * `df` can be written `partitionBy("shard")` directly, or a slim
    * (id-only) projection joined back to the corpus on `id`.
    */
  def seededShards(df: DataFrame, idCol: String, nShards: Int,
                   seed: String): DataFrame = {
    val key = md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))
    val shard = pmod(conv(substring(key, 1, 4), 16, 10).cast("long"),
      lit(nShards.toLong))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__key").asc, col(idCol).asc)
    df.withColumn("__key", key).withColumn("shard", shard)
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__key")
  }

  /** Length-grouped batching (the dynamic-batching / bucketing pass a
    * training job runs so a 40-token doc never pads out a 2000-token
    * batch): docs bucket by token-count tier (`bounds` are the tier
    * lower edges), batch WITHIN (bucket, shard) in id order, and the
    * report prices the padding — per batch the padded cost is
    * max_tokens × batch_rows, so waste = padded − real tokens.
    *
    * Scale shape: the batching window partitions by (bucket, shard) —
    * `nShards` deterministic hash shards per bucket, exactly the
    * [[seededShards]] discipline — so no tier ever funnels through one
    * partition the way a global per-bucket row_number would; each
    * worker batches its shard locally, which is how distributed
    * training loaders actually batch. All arithmetic is integer
    * (counts, sums of counts), so the report is engine-exact; the one
    * double (waste fraction) is a division of exact longs.
    */
  def lengthBuckets(docs: DataFrame, idCol: String, textCol: String,
                    bounds: Seq[Long], batchSize: Int,
                    nShards: Int): DataFrame = {
    require(bounds == bounds.sorted && bounds.nonEmpty, "sorted tier edges")
    val toks = docs.select(col(idCol),
      TextAnalysis.tokenCountWs(col(textCol)).as("n_tokens"))
    val bucket = bounds.foldLeft(lit(0L)) { (acc, b) =>
      acc + when(col("n_tokens") >= b, 1L).otherwise(0L)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"), col("shard")).orderBy(col(idCol))
    toks
      .withColumn("bucket", bucket)
      .withColumn("shard", pmod(col(idCol), lit(nShards.toLong)))
      .withColumn("batch",
        ((row_number().over(w) - 1) / lit(batchSize)).cast("long"))
      .groupBy(col("bucket"), col("shard"), col("batch"))
      .agg(count(lit(1)).as("__nd"), max(col("n_tokens")).as("__mx"),
        sum(col("n_tokens")).as("__st"))
      .groupBy(col("bucket"))
      .agg(sum(col("__nd")).as("n_docs"),
        count(lit(1)).as("n_batches"),
        sum(col("__st")).as("sum_tokens"),
        sum(col("__mx") * col("__nd")).as("padded_tokens"))
      .withColumn("waste_frac",
        when(col("padded_tokens") > 0,
          (col("padded_tokens") - col("sum_tokens")).cast("double") /
            col("padded_tokens")).otherwise(lit(0.0)))
      .orderBy(col("bucket"))
  }
}
