package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deduplication operators for large-scale corpus curation (north-star
  * extensions): exact, MinHash-LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale design notes:
  *  - Exact dedup is one hash-shuffle on a 32-byte fingerprint, never on
  *    the full text.
  *  - MinHash signatures reduce to `bands·rows` 5-hex values per doc
  *    before anything shuffles (explode + map-side partial agg, or the
  *    per-row array-expression form); the candidate join shuffles only
  *    (doc_id, band, key) — never document text.
  *  - Jaccard verification self-joins the (doc, shingle) relation but caps
  *    shingle document-frequency first — the classic guard against
  *    quadratic blowup on boilerplate shingles.
  *  - All hashing is md5 (identical hex in Spark/DuckDB/Python), so every
  *    operator is oracle-checkable bit-for-bit.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Distinct character k-shingles of a string, as an array column —
    * computed per row inside codegen (no explode).
    */
  def charShingles(c: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(c) - (k - 1), lit(1))),
      i => c.substr(i, lit(k))))

  /** Distinct word n-gram shingles (the C4/RefinedWeb-style unit for text
    * dedup): ~5× fewer shingles than character k-grams on prose, which
    * shrinks every downstream hash/join linearly-to-quadratically.
    *
    * NOTE: the lambda body references `words` per element, and Spark's
    * higher-order functions are interpreted with no subexpression
    * elimination — inlining this expression re-splits the text O(tokens)
    * times per row. Use [[Shingler.words]] (which stages the split in its
    * own projection; measured 5× faster at sf0.1) anywhere hot.
    */
  def wordShingles(c: Column, n: Int): Column =
    wordShinglesOf(split(trim(c), "\\s+"), n)

  private def wordShinglesOf(words: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(words) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(words, i, lit(n)))))

  /** Shingle-source strategy: stages whatever shared subexpression the
    * shingle definition needs (e.g. the tokenized words array) as a real
    * column in its own projection, so it is evaluated once per row.
    * CollapseProject declines to inline multi-use non-trivial aliases, so
    * the staging survives optimization.
    *
    * Contract: the shingle array holds each shingle of a document at most
    * once (the built-ins wrap theirs in `array_distinct`). ppjoin relies
    * on it twice: its prefix length ceil(θ·n) counts array elements as n,
    * which is the shingle-set size only when they are distinct, and it
    * counts a pair's common shingles as `size(array_intersect(a, b))`,
    * which is distinct. A custom Shingler that repeats shingles breaks
    * both.
    */
  trait Shingler extends Serializable {
    /** Returns (staged df, distinct shingle-array column over it). */
    def stage(df: DataFrame, textCol: String): (DataFrame, Column)
  }

  object Shingler {
    def words(n: Int): Shingler = (df: DataFrame, textCol: String) => {
      val staged = df.withColumn("__graft_words", split(trim(col(textCol)), "\\s+"))
      (staged, wordShinglesOf(col("__graft_words"), n))
    }
    def chars(k: Int): Shingler =
      (df: DataFrame, textCol: String) => (df, charShingles(col(textCol), k))
  }

  /** Hash function i (0..11) for one shingle: a 5-hex-char (20-bit) slice
    * of md5(s) (i < 6) or md5("x"+s) (i ≥ 6) — twelve pseudo-independent
    * hashes from two md5 evaluations per shingle.
    */
  private def hashSlice(i: Int)(h1: Column, h2: Column): Column =
    if (i < 6) substring(h1, i * 5 + 1, 5)
    else substring(h2, (i - 6) * 5 + 1, 5)

  val MaxHashes = 12

  /** Per-doc MinHash signature columns mh0..mh{n-1} (array-expression
    * form, shuffle-free).
    */
  def minhashSignature(textCol: Column, shingleOf: Column => Column,
                       numHashes: Int): Seq[Column] = {
    require(numHashes <= MaxHashes, s"at most $MaxHashes hashes (two md5 digests)")
    val h1 = transform(shingleOf(textCol), s => md5(s))
    val h2 = transform(shingleOf(textCol), s => md5(concat(lit("x"), s)))
    (0 until numHashes).map(i =>
      array_min(zip_with(h1, h2, hashSlice(i))).as(s"mh$i"))
  }

  /** Exact-duplicate groups by a key expression (typically
    * TextOps.fingerprint or a normalized prefix): returns one row per
    * duplicated key with the surviving (minimum) id and the group size.
    */
  def exactDupGroups(df: DataFrame, idCol: Column, key: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("group_size"))
      .filter(col("group_size") > 1)

  /** Survivor-selection POLICY over dedup clusters: keep the BEST row
    * per cluster by `score` (ties to the lowest id) instead of the
    * min-id default — what a production dedup actually ships (when a
    * near-dup cluster collapses, keep the highest-quality copy; cf. the
    * RefinedWeb/FineWeb keep-best convention). `cc` is the (id, label)
    * relation [[connectedComponents]] emits; `docs` supplies the score
    * column. The ranking window partitions by CLUSTER, whose width is
    * bounded by cluster size (mass-duplicate floods are chained by the
    * banding df-cap upstream), never by the corpus; the docs join is
    * id-keyed. Output: (id, cluster, score, is_survivor) for every
    * clustered row.
    */
  def survivorsByScore(cc: DataFrame, docs: DataFrame, idCol: String,
                       score: Column): DataFrame = {
    val w = Window.partitionBy("cluster")
      .orderBy(col("score").desc, col(idCol))
    cc.select(col("id").as(idCol), col("label").as("cluster"))
      .join(docs.select(col(idCol), score.as("score")), idCol)
      .withColumn("is_survivor", row_number().over(w) === 1)
      .select(col(idCol), col("cluster"), col("score"), col("is_survivor"))
  }

  /** Exact dedup: keep the minimum-id row per key (deterministic, unlike
    * dropDuplicates' arbitrary winner). One shuffle on the key.
    */
  def exactDedup(df: DataFrame, idCol: Column, key: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(idCol)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Cross-document duplicated-line removal (the RefinedWeb/C4
    * boilerplate filter): drop every line that appears verbatim in at
    * least `minDocs` DISTINCT documents — navigation bars, cookie
    * banners, and license headers repeat across pages while body text
    * does not. A line duplicated only within its own document stays
    * (that is repetition, a quality signal — see TextAnalysis — not
    * boilerplate).
    *
    * Returns one row per input document: `idCol`, `clean_text` (kept
    * lines re-joined in original order; empty string when every line was
    * boilerplate), and `n_removed`.
    *
    * Plan shape at 100 TB: three shuffles, each on bounded keys —
    * (1) the distinct-doc count groups by the line's md5 FINGERPRINT, so
    * shuffle width is 32 hex chars regardless of line length, with
    * two-level partial aggregation; (2) the anti-join against the
    * boilerplate dictionary co-partitions on the same fingerprint (the
    * dictionary side is the distinct boilerplate lines — tiny relative to
    * the corpus — so AQE will usually broadcast it); (3) the rebuild
    * groups by document id. Line order is restored from the captured
    * posexplode index, never from a global sort.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 minDocs: Int = 2, minLineChars: Int = 1): DataFrame = {
    // cached: the exploded line relation feeds both the boilerplate
    // dictionary and the rebuild (one explode pass, not two)
    // \n, \r\n and lone \r all delimit (CRLF web text would otherwise
    // carry a hidden \r on every line and never match its LF twin);
    // the rebuild re-joins with \n, i.e. line endings come out
    // normalized — a cleaner owns its output encoding
    val lines = graft.core.Caches.track(df
      .select(col(idCol), posexplode(split(col(textCol), "\r\n|[\r\n]"))
        .as(Seq("__g_pos", "__g_line")))
      .withColumn("__g_h", md5(col("__g_line"))))
    // lines shorter than minLineChars never enter the dictionary: with
    // the default (1) a blank line ("" from "\n\n") can never be
    // classified boilerplate — otherwise every paragraph separator in
    // the corpus would trip the >= minDocs test and be stripped
    // corpus-wide
    val boilerplate = lines
      .filter(length(col("__g_line")) >= minLineChars)
      .groupBy("__g_h")
      .agg(countDistinct(col(idCol)).as("__g_nd"))
      .filter(col("__g_nd") >= minDocs)
      .select("__g_h")
    val rebuilt = lines.join(boilerplate, Seq("__g_h"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__g_pos"), col("__g_line")))),
            _.getField("__g_line")),
          "\n").as("clean_text"),
        count(lit(1)).as("__g_kept"))
    df.select(col(idCol),
        size(split(col(textCol), "\r\n|[\r\n]")).cast("long").as("__g_tot"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__g_tot") - coalesce(col("__g_kept"), lit(0L))).as("n_removed"))
  }

  /** Cross-document exact SUBSTRING dedup — the scalable approximation of
    * suffix-array span removal ("Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2021): any word span of length
    * ≥ `k` that also appears in another document is removed from every
    * document EXCEPT the one with the smallest id (first occurrence
    * survives — the ExactSubstr policy). Word-granular: a duplicated
    * passage of length L ≥ k is covered by its L−k+1 overlapping k-gram
    * fingerprints, whose union is exactly the passage, so merging
    * adjacent matching runs falls out of position-set union — no
    * suffix array needed.
    *
    * Returns one row per input document: `idCol`, `clean_text` (kept
    * words re-joined in original order) and `n_removed` (words removed).
    *
    * Plan shape at 100 TB — four bounded-key shuffles, no global sort:
    * (1) the duplicated-gram dictionary groups by the k-gram's md5 (32
    * hex chars regardless of k, two-level partial agg); (2) the coverage
    * join co-partitions grams and dictionary on that same fingerprint
    * (the dictionary is the duplicated grams only — tiny vs the corpus,
    * usually AQE-broadcast); (3) covered positions dedup on (doc, pos);
    * (4) the rebuild groups by document id with order restored from the
    * captured posexplode index. The k-gram explode is k× the corpus in
    * rows but each row is one fixed-width hash, not text.
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
                 k: Int, minDocs: Int = 2): DataFrame = {
    require(k >= 2, "span length k >= 2")
    val nonBlank = df.filter(trim(col(textCol)) =!= "")
      .withColumn("__g_w", split(trim(col(textCol)), "\\s+"))
    // (doc, word, 0-based position) — feeds the rebuild
    val words = nonBlank
      .select(col(idCol), posexplode(col("__g_w")).as(Seq("__g_p", "__g_word")))
    // (doc, 0-based start, gram md5) — feeds dictionary AND coverage: cache
    val grams = graft.core.Caches.track(nonBlank
      .filter(size(col("__g_w")) >= k)
      .select(col(idCol), posexplode(
        transform(sequence(lit(1), size(col("__g_w")) - (k - 1)),
          i => md5(concat_ws(" ", slice(col("__g_w"), i, lit(k))))))
        .as(Seq("__g_i", "__g_h"))))
    val dup = grams.groupBy("__g_h")
      .agg(countDistinct(col(idCol)).as("__g_nd"), min(col(idCol)).as("__g_keep"))
      .filter(col("__g_nd") >= minDocs)
      .select("__g_h", "__g_keep")
    // every position under a duplicated gram, in docs that are NOT the
    // gram's survivor
    val covered = grams.join(dup, "__g_h")
      .filter(col(idCol) =!= col("__g_keep"))
      .select(col(idCol),
        explode(sequence(col("__g_i"), col("__g_i") + (k - 1))).as("__g_p"))
      .distinct()
    val rebuilt = words.join(covered, Seq(idCol, "__g_p"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__g_p"), col("__g_word")))),
            _.getField("__g_word")),
          " ").as("clean_text"),
        count(lit(1)).as("__g_kept"))
    df.select(col(idCol),
        TextAnalysis.tokenCountWs(col(textCol)).as("__g_tot"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__g_tot") - coalesce(col("__g_kept"), lit(0L))).as("n_removed"))
  }

  /** MinHash-LSH candidate pairs with (bands × rowsPerBand) banding: a
    * band key is the concatenation of `rowsPerBand` minhashes, and a pair
    * is a candidate when ≥1 band agrees — P(candidate) =
    * 1-(1-J^r)^b, the S-curve that admits near-dups and rejects the
    * merely-similar. Signature computation is explode + partial-agg (md5
    * evaluated once per shingle, map-side combine shrinks the shuffle to
    * `bands·r` values per doc); the self-join shuffles only
    * (id, band, key).
    *
    * Band-frequency guard (`maxBandDf`, the banding analogue of
    * jaccardPairs' `maxShingleDf`): a corpus with thousands of identical
    * documents puts them all under ONE band key, and the all-pairs
    * self-join is then quadratic inside a single task. Band groups larger
    * than `maxBandDf` therefore emit the id-ordered CHAIN (each doc paired
    * with its successor) instead of all pairs — O(n) pairs that preserve
    * exactly the connected components (dedup_cluster output is unchanged),
    * while any single band group stays linear. The frequency count rides
    * the same (band, h) shuffle the join needs (window, no extra
    * exchange).
    *
    * CAVEAT — chain pairs are valid for CLUSTERING, not for pair-level
    * verification filters: inside an oversized band group only adjacent-id
    * pairs are emitted, so a downstream per-pair similarity gate (the
    * dedup_editdist / jaccard-verify pattern) that rejects one adjacent
    * pair can split a cluster that all-pairs candidates would keep
    * connected. Feed chain pairs to connected components unfiltered, or
    * lower `maxBandDf` only when pairs flow straight into clustering.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingler: Shingler = Shingler.words(5),
                        bandsN: Int = 2, rowsPerBand: Int = 3,
                        maxBandDf: Int = 256): DataFrame =
    minhashCandidatesFromSig(
      minhashSignatures(df, idCol, textCol, shingler, bandsN * rowsPerBand),
      idCol, bandsN, rowsPerBand, maxBandDf)

  /** The (cached) MinHash signature relation — (id, mh0..mh{n-1}) — on
    * its own, for callers that band the SAME corpus's signatures more
    * than once (batch-vs-full incremental folds, banding sweeps). A
    * doc's signature is a pure per-doc function of its text, so
    * `minhashSignatures(df).filter(p)` ≡
    * `minhashSignatures(df.filter(p))` whenever `p` touches only the
    * id — the sharing that lets dedup_cluster_incremental shingle the
    * corpus ONCE instead of once per fold side (the shingle+md5 pass
    * is the operator's dominant map cost). The band-frequency guard is
    * NOT shareable the same way (df_b counts the banded corpus), so
    * [[minhashCandidatesFromSig]] recomputes it per call.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingler: Shingler = Shingler.words(5),
                        numHashes: Int = 6): DataFrame = {
    require(numHashes <= MaxHashes, s"at most $MaxHashes hashes (two md5 digests)")
    val (staged, shCol) = shingler.stage(df, textCol)
    val sh0 = staged.select(col(idCol), explode(shCol).as("s"))
      .withColumn("h1", md5(col("s")))
    // the second digest is only needed past 6 hash slices
    val sh = if (numHashes > 6) sh0.withColumn("h2", md5(concat(lit("x"), col("s"))))
      else sh0.withColumn("h2", lit(""))
    // both sides of the band self-join read sig: cache the tiny
    // (docs × numHashes) relation instead of re-hashing every shingle twice
    val mins = (0 until numHashes).map(i =>
      min(hashSlice(i)(col("h1"), col("h2"))).as(s"mh$i"))
    graft.core.Caches.track(
      sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*))
  }

  /** Banding + pair stage over a prebuilt [[minhashSignatures]]
    * relation (which must carry mh0..mh{bandsN*rowsPerBand-1}).
    * Identical semantics to [[minhashCandidates]] on the corpus the
    * signatures describe — the band-frequency window is computed HERE,
    * over exactly the signatures passed in.
    */
  def minhashCandidatesFromSig(sig: DataFrame, idCol: String,
                               bandsN: Int = 2, rowsPerBand: Int = 3,
                               maxBandDf: Int = 256): DataFrame = {
    val bandKeys = (0 until bandsN).map(b =>
      struct(lit(b).as("band"),
        concat((0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*).as("h")))
    val wBand = Window.partitionBy("band", "h")
    // cached: the window-counted band relation feeds both join sides and
    // the oversized-group chain branch
    val bands = graft.core.Caches.track(
      sig.select(col(idCol), explode(array(bandKeys: _*)).as("bh"))
        .select(col(idCol), col("bh.band"), col("bh.h"))
        .withColumn("df_b", count(lit(1)).over(wBand)))
    pairsFromBands(bands, idCol, maxBandDf)
  }

  /** The pair stage shared by [[minhashCandidates]] and the at-rest
    * [[bandIndexCandidates]]: small band groups (df ≤ cap) emit all
    * pairs via the band-key self-join, oversized groups degrade to the
    * id-ordered chain; pairs aggregate to (id_a, id_b, bands_matched).
    * Expects `bands` to carry (idCol, band, h, df_b).
    */
  private def pairsFromBands(bands: DataFrame, idCol: String,
                             maxBandDf: Int): DataFrame = {
    val wBand = Window.partitionBy("band", "h")
    val small = bands.filter(col("df_b") <= maxBandDf)
    val a = small.as("a")
    val b = small.as("b")
    val smallPairs = a.join(b,
        col("a.band") === col("b.band") && col("a.h") === col("b.h")
          && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
    val chainPairs = bands.filter(col("df_b") > maxBandDf)
      .withColumn("next_id", lead(col(idCol), 1).over(wBand.orderBy(col(idCol))))
      .filter(col("next_id").isNotNull)
      .select(col(idCol).as("id_a"), col("next_id").as("id_b"))
    smallPairs.unionByName(chainPairs)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("bands_matched"))
  }

  // ---- MinHash band index AT REST ----------------------------------------

  /** The per-batch band-row computation behind the at-rest dedup index:
    * (id, band, h) — the same signature/banding arithmetic as
    * [[minhashCandidates]], WITHOUT the corpus-wide band-frequency
    * window (df is a serve-time property of the whole served set, not
    * of one batch).
    */
  private def bandRowsOf(df: DataFrame, idCol: String, textCol: String,
                         shingler: Shingler, bandsN: Int,
                         rowsPerBand: Int): DataFrame = {
    val numHashes = bandsN * rowsPerBand
    require(numHashes <= MaxHashes, s"at most $MaxHashes hashes (two md5 digests)")
    val (staged, shCol) = shingler.stage(df, textCol)
    val sh0 = staged.select(col(idCol), explode(shCol).as("s"))
      .withColumn("h1", md5(col("s")))
    val sh = if (numHashes > 6)
      sh0.withColumn("h2", md5(concat(lit("x"), col("s"))))
    else sh0.withColumn("h2", lit(""))
    val mins = (0 until numHashes).map(i =>
      min(hashSlice(i)(col("h1"), col("h2"))).as(s"mh$i"))
    val sig = sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
    val bandKeys = (0 until bandsN).map(b =>
      struct(lit(b).as("band"),
        concat((0 until rowsPerBand).map(r =>
          col(s"mh${b * rowsPerBand + r}")): _*).as("h")))
    sig.select(col(idCol), explode(array(bandKeys: _*)).as("bh"))
      .select(col(idCol), col("bh.band"), col("bh.h"))
  }

  /** The MinHash BAND TABLE at rest — incremental dedup against 100 TB
    * of history with EXACT candidate recovery (the at-rest complement
    * of [[newAgainstHistory]]'s Bloom filter, which only answers
    * "definitely new", never "near-dup of WHOM"):
    *
    *  - the index stores (id, band, h) — tens of bytes per document vs
    *    the corpus text, so serving candidates reads the band table,
    *    never the historical corpus;
    *  - ingesting a batch shingles/hashes ONLY that batch (cost ∝
    *    batch) and appends under `batch=<id>` with the shared
    *    [[graft.core.IndexCommits]] marker discipline — crash-invisible,
    *    same-id retry idempotent, the [[Retrieval.appendToIndex]] /
    *    [[Similarity.ivfAppendLayout]] contract on a third index family;
    *  - deletes are id tombstones; compaction folds served − tombstones
    *    into one batch via the atomic supersede rename; vacuum sweeps;
    *  - serving recomputes the band-frequency guard OVER THE SERVED SET
    *    (one window on the (band, h) key — the same exchange the
    *    candidate join needs anyway), so batch-incremental candidates
    *    are DEFINED equal to a full rebuild's: same rows in, same
    *    banding, same df cap, same pairs.
    */
  def writeBandIndex(docs: DataFrame, idCol: String, textCol: String,
                     path: String, shingler: Shingler = Shingler.words(5),
                     bandsN: Int = 2, rowsPerBand: Int = 3): Unit = {
    val spark = docs.sparkSession
    val fsys = graft.core.IndexCommits.fs(spark, path)
    fsys.delete(new org.apache.hadoop.fs.Path(path + "/data"), true)
    fsys.delete(new org.apache.hadoop.fs.Path(path + "/tombstones"), true)
    fsys.delete(new org.apache.hadoop.fs.Path(path + "/commits"), true)
    writeBandBatch(
      bandRowsOf(docs, idCol, textCol, shingler, bandsN, rowsPerBand),
      path, 0L)
    graft.core.IndexCommits.mark(spark, path, "batch_0")
  }

  /** Incremental ingest: band rows of the NEW batch only. Caller owns
    * id-disjointness while a doc's tombstone is live (as everywhere).
    */
  def appendToBandIndex(docs: DataFrame, idCol: String, textCol: String,
                        path: String, batchId: Long,
                        shingler: Shingler = Shingler.words(5),
                        bandsN: Int = 2, rowsPerBand: Int = 3): Unit = {
    require(batchId > 0, "batch 0 is the full build; appends use fresh ids")
    writeBandBatch(
      bandRowsOf(docs, idCol, textCol, shingler, bandsN, rowsPerBand),
      path, batchId)
    graft.core.IndexCommits.mark(docs.sparkSession, path, s"batch_$batchId")
  }

  private def writeBandBatch(rows: DataFrame, path: String,
                             batchId: Long): Unit = {
    import org.apache.spark.sql.SaveMode
    if (rows.isEmpty) {
      // schema-bearing empty unit (the Similarity.writeLayoutRows guard):
      // clear any crashed partitioned attempt, then write the empty
      // frame under one band directory so partition discovery survives
      graft.core.IndexCommits.fs(rows.sparkSession, path)
        .delete(new org.apache.hadoop.fs.Path(s"$path/data/batch=$batchId"),
          true)
      rows.drop("band").repartition(1)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$path/data/batch=$batchId/band=0")
    } else
      rows.write.mode(SaveMode.Overwrite)
        .partitionBy("band").parquet(s"$path/data/batch=$batchId")
  }

  /** Tombstone-delete documents from the band index (id list under
    * `tombstones/batch=<id>`, `del_<id>` marker — the shared state
    * machine; serving anti-joins AFTER batch pruning).
    */
  def deleteFromBandIndex(ids: DataFrame, idCol: String, path: String,
                          batchId: Long): Unit = {
    val spark = ids.sparkSession
    if (graft.core.IndexCommits.isCommitted(spark, path, s"del_$batchId"))
      return
    ids.select(col(idCol)).distinct().repartition(1)
      .write.mode("overwrite").parquet(s"$path/tombstones/batch=$batchId")
    graft.core.IndexCommits.mark(spark, path, s"del_$batchId")
  }

  private def servedBandRows(spark: org.apache.spark.sql.SparkSession,
                             path: String, idCol: String,
                             state: graft.core.IndexCommits.State): DataFrame = {
    val base = spark.read.parquet(path + "/data")
      .filter(col("batch").isin(state.batches: _*))
    if (state.deletes.isEmpty) base
    else base.join(
      spark.read.parquet(path + "/tombstones")
        .filter(col("batch").isin(state.deletes: _*))
        .select(col(idCol)),
      Seq(idCol), "left_anti")
  }

  /** Fold served − tombstones into one fresh batch (band partitioning
    * preserved; rows keep their persisted signatures — nothing is
    * re-shingled), committed by the atomic supersede-marker rename.
    */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, idCol: String, newBatchId: Long): Unit = {
    if (graft.core.IndexCommits.isCommitted(spark, path,
        s"compact_$newBatchId")) return
    val state = graft.core.IndexCommits.servedState(spark, path)
    graft.core.IndexCommits.requireFreshId(newBatchId, state)
    writeBandBatch(servedBandRows(spark, path, idCol, state).drop("batch"),
      path, newBatchId)
    graft.core.IndexCommits.commitCompaction(spark, path, newBatchId, state)
  }

  def vacuumBandIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Int =
    graft.core.IndexCommits.vacuum(spark, path, {
      case ("del", id) => Seq(s"tombstones/batch=$id")
      case (_, id)     => Seq(s"data/batch=$id")
    })

  /** Serve near-dup candidates from the at-rest band table: committed
    * batches minus committed tombstones, the band-frequency window
    * recomputed over the SERVED set, then the exact
    * [[minhashCandidates]] pair stage — batch-incremental candidates ≡
    * full-rebuild candidates, by construction and by oracle.
    */
  def bandIndexCandidates(spark: org.apache.spark.sql.SparkSession,
                          path: String, idCol: String,
                          maxBandDf: Int = 256): DataFrame = {
    val state = graft.core.IndexCommits.servedState(spark, path)
    val wBand = Window.partitionBy("band", "h")
    val bands = graft.core.Caches.track(
      servedBandRows(spark, path, idCol, state)
        .select(col(idCol), col("band"), col("h"))
        .withColumn("df_b", count(lit(1)).over(wBand)))
    pairsFromBands(bands, idCol, maxBandDf)
  }

  /** [[minhashCandidates]] at SEVERAL banding configurations from ONE
    * shared signature — the tuning sweep behind the banding S-curve
    * P(candidate) = 1−(1−J^r)^b: more rows per band rejects the
    * merely-similar harder, more bands recalls weaker pairs. All
    * configurations read the same cached (docs × maxHashes) signature
    * relation (the hash slices are shared — config (b, r) uses slices
    * 0..b·r−1), so a k-point sweep costs ONE shingle/hash pass plus k
    * band-key exchanges instead of k full runs. Output: one candidate
    * pair row per configuration, tagged (bands_n, rows_per_band); same
    * maxBandDf chain-degradation guard per configuration as the single
    * operator.
    */
  def minhashCandidatesSweep(df: DataFrame, idCol: String, textCol: String,
                             shingler: Shingler = Shingler.words(5),
                             configs: Seq[(Int, Int)],
                             maxBandDf: Int = 256): DataFrame = {
    require(configs.nonEmpty, "at least one (bands, rowsPerBand) config")
    val numHashes = configs.map { case (b, r) => b * r }.max
    require(numHashes <= MaxHashes, s"at most $MaxHashes hashes (two md5 digests)")
    val (staged, shCol) = shingler.stage(df, textCol)
    val sh0 = staged.select(col(idCol), explode(shCol).as("s"))
      .withColumn("h1", md5(col("s")))
    val sh = if (numHashes > 6) sh0.withColumn("h2", md5(concat(lit("x"), col("s"))))
      else sh0.withColumn("h2", lit(""))
    val mins = (0 until numHashes).map(i =>
      min(hashSlice(i)(col("h1"), col("h2"))).as(s"mh$i"))
    val sig = graft.core.Caches.track(
      sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*))
    val perConfig = configs.map { case (bandsN, rowsPerBand) =>
      val bandKeys = (0 until bandsN).map(b =>
        struct(lit(b).as("band"),
          concat((0 until rowsPerBand).map(r =>
            col(s"mh${b * rowsPerBand + r}")): _*).as("h")))
      val wBand = Window.partitionBy("band", "h")
      val bands = graft.core.Caches.track(
        sig.select(col(idCol), explode(array(bandKeys: _*)).as("bh"))
          .select(col(idCol), col("bh.band"), col("bh.h"))
          .withColumn("df_b", count(lit(1)).over(wBand)))
      val small = bands.filter(col("df_b") <= maxBandDf)
      val smallPairs = small.as("a").join(small.as("b"),
          col("a.band") === col("b.band") && col("a.h") === col("b.h")
            && col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      val chainPairs = bands.filter(col("df_b") > maxBandDf)
        .withColumn("next_id", lead(col(idCol), 1).over(wBand.orderBy(col(idCol))))
        .filter(col("next_id").isNotNull)
        .select(col(idCol).as("id_a"), col("next_id").as("id_b"))
      smallPairs.unionByName(chainPairs)
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("bands_matched"))
        .select(lit(bandsN).as("bands_n"),
          lit(rowsPerBand).as("rows_per_band"),
          col("id_a"), col("id_b"), col("bands_matched"))
    }
    perConfig.reduce(_ unionByName _)
  }

  /** n-gram Jaccard near-dup pairs. Two scale guards:
    *  - `maxShingleDf` drops shingles appearing in more than that many
    *    docs (boilerplate guard — bounds the self-join at
    *    O(sum over shingles of df²) with df ≤ cap);
    *  - `sampleHex` (1-16) keeps only shingles whose md5 starts with one
    *    of the first `sampleHex` hex digits — deterministic mod-p shingle
    *    sampling (the classic Broder trick): Jaccard is then estimated on
    *    a 16/sampleHex-times smaller shingle universe, shrinking the
    *    self-join quadratically while staying engine-portable.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingler: Shingler = Shingler.words(3),
                   threshold: Double = 0.5,
                   maxShingleDf: Int = 64, sampleHex: Int = 16): DataFrame =
    pairOverlap(df, idCol, textCol, shingler, maxShingleDf, sampleHex)
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_common", "jaccard")

  /** Shared overlap core for the set-similarity family: per-pair
    * (id_a < id_b) distinct-shingle intersection size plus both sides'
    * shingle counts, on the df-capped (and optionally mod-p sampled)
    * shingle universe. All three columns MUST come from the same
    * capped universe — capping only the join would deflate numerators
    * against uncapped denominators.
    */
  private def pairOverlap(df: DataFrame, idCol: String, textCol: String,
                          shingler: Shingler, maxShingleDf: Int,
                          sampleHex: Int): DataFrame = {
    val (staged, shCol) = shingler.stage(df, textCol)
    val shAll = staged.select(col(idCol).as("id"), explode(shCol).as("sh"))
    // multiple consumers — cache the sampled shingle relation instead of
    // re-exploding/re-hashing per branch
    val sh = graft.core.Caches.track(
      if (sampleHex >= 16) shAll
      else shAll.filter(substring(md5(col("sh")), 1, 1) < lit(f"${sampleHex}%x")))
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df_sh"))
      .filter(col("df_sh") <= maxShingleDf).select("sh")
    val filtered = graft.core.Caches.track(sh.join(rare, "sh"))
    // counts feeds BOTH final n_a/n_b joins — one aggregation, not two
    val counts = graft.core.Caches.track(
      filtered.groupBy("id").agg(count(lit(1)).as("n_sh")))
    val common = filtered.as("a")
      .join(filtered.as("b"), col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(counts.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(counts.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
  }

  /** Near-CONTAINMENT pairs (Broder 1997's asymmetric companion to
    * Jaccard): |A∩B| / |A| for the SMALLER shingle set A — the measure
    * that catches a short document embedded in a longer one (a wire
    * story inside an aggregator page, a quoted post inside a thread),
    * where symmetric Jaccard stays low because the union is dominated
    * by the container. Emits one row per pair in the contained →
    * container direction: (contained, container, n_common, containment)
    * with containment = n_common / n_contained ≥ threshold; the
    * contained side is the smaller set (ties → lower id), whose
    * containment is necessarily the larger of the two directions. Same
    * df-capped overlap core and scale guards as [[jaccardPairs]].
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingler: Shingler = Shingler.words(3),
                       threshold: Double = 0.8,
                       maxShingleDf: Int = 64, sampleHex: Int = 16): DataFrame =
    pairOverlap(df, idCol, textCol, shingler, maxShingleDf, sampleHex)
      .select(
        when(col("n_a") < col("n_b") ||
          (col("n_a") === col("n_b") && col("id_a") < col("id_b")),
          col("id_a")).otherwise(col("id_b")).as("contained"),
        when(col("n_a") < col("n_b") ||
          (col("n_a") === col("n_b") && col("id_a") < col("id_b")),
          col("id_b")).otherwise(col("id_a")).as("container"),
        col("n_common"),
        (col("n_common").cast("double") / least(col("n_a"), col("n_b")))
          .as("containment"))
      .filter(col("containment") >= threshold)

  /** EXACT Jaccard-threshold set-similarity self-join via PREFIX
    * FILTERING (the AllPairs/PPJoin family: Chaudhuri et al. ICDE'06,
    * Bayardo et al. WWW'07, Xiao et al. WWW'08) — the exact complement
    * to [[minhashCandidates]]: zero false negatives AND zero false
    * positives, without [[jaccardPairs]]'s full postings self-join.
    *
    * The pruning theorem: order the shingle universe globally by
    * ascending document frequency (rarest first, ties by shingle text)
    * and give each document a PREFIX of its first
    * `|x| − ⌈θ·|x|⌉ + 1` shingles in that order. J(A,B) ≥ θ implies
    * |A∩B| ≥ θ·|A∪B| ≥ ⌈θ·max(|A|,|B|)⌉, so if the FIRST shared
    * shingle (in the global order) were outside A's prefix, ALL ≥
    * ⌈θ|A|⌉ shared shingles would have to fit in A's last
    * ⌈θ|A|⌉ − 1 positions — impossible; same for B. Hence every
    * qualifying pair shares a shingle inside BOTH prefixes, and the
    * prefix equi-join is a complete candidate generator.
    *
    * 100 TB shape: only prefix postings — a (1−θ) fraction of the
    * shingle universe, and by construction the RAREST shingles, so
    * per-key posting lists are short where it matters — enter the
    * self-join; the size filter θ·|b| ≤ |a| ≤ |b|/θ (J ≥ θ forces
    * sizes within a 1/θ factor) is pushed into the join condition; the
    * verify pass touches full postings only for candidate pairs (a
    * semi-join bounded by the candidate count, not n²). Boilerplate
    * shingles with huge df sort to the END of the global order and
    * thus rarely reach a prefix — the df cap [[jaccardPairs]] needs
    * for its full self-join is built into the ordering here, with no
    * exactness loss. (PPJoin's positional upper-bound refinement would
    * prune candidates further; AllPairs prefixes already deliver the
    * asymptotics, so we keep the join condition codegen-simple.)
    *
    * @return (id_a, id_b, n_common, jaccard) for all pairs with
    *         J ≥ threshold — the same row shape as [[jaccardPairs]].
    */
  def ppjoinPairs(df: DataFrame, idCol: String, textCol: String,
                  shingler: Shingler = Shingler.words(3),
                  threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    // θ arithmetic must be EXACT or the zero-false-negative guarantee
    // breaks: in binary doubles 0.55*20 = 11.000000000000002, so
    // ceil(θ·n) misrounds up and the prefix is one shingle too short.
    // Take θ as the decimal the caller wrote (threshold.toString is the
    // shortest decimal that round-trips the double) and reduce to a
    // rational p/q so every comparison below is integer-only:
    //   ceil(n·p/q)  =  (n·p + q − 1) div q        (n, p, q > 0)
    //   θ·b ≤ a      ⇔  p·b ≤ q·a
    //   J ≥ θ        ⇔  q·n_common ≥ p·(n_a + n_b − n_common)
    val dec = BigDecimal(threshold.toString)
    val q0 = BigInt(10).pow(dec.scale max 0)
    val p0 = (dec * BigDecimal(q0)).toBigInt
    val g = p0.gcd(q0)
    val (thP, thQ) = ((p0 / g).toLong, (q0 / g).toLong)
    val (staged, shCol) = shingler.stage(df, textCol)
    // postings feed three consumers (rank, candidate verify ×2) — cache
    val sh = graft.core.Caches.track(
      staged.select(col(idCol).as("id"), explode(shCol).as("sh")))
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df_sh"))
    // counts feeds the prefix filter AND both final n_a/n_b joins —
    // cache the (docs)-sized relation instead of re-aggregating thrice
    val counts = graft.core.Caches.track(
      sh.groupBy("id").agg(count(lit(1)).as("n_sh")))
    val wDoc = Window.partitionBy("id").orderBy(col("df_sh"), col("sh"))
    // pref feeds BOTH sides of the candidate self-join: uncached, the
    // whole rank/filter subtree (sh ⋈ dfreq → per-doc window → counts
    // join → prefix filter) is planned — and EXECUTED — twice, and at
    // bench scale its post-exchange stages collapse to sequential
    // 1-task AQE stages (profiled: ~10 × ~0.8 s). One materialization
    // serves both aliases.
    val pref = graft.core.Caches.track(
      sh.join(dfreq, "sh")
        .withColumn("rk", row_number().over(wDoc))
        .join(counts, "id")
        .filter(col("rk") <=
          col("n_sh") -
            expr(s"(n_sh * ${thP}L + ${thQ - 1}L) div ${thQ}L") + 1)
        .select("id", "sh", "n_sh"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
          col("b.n_sh") * lit(thP) <= col("a.n_sh") * lit(thQ) &&
          col("a.n_sh") * lit(thP) <= col("b.n_sh") * lit(thQ))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // Verify by per-doc shingle-SET intersection instead of the
    // candidate ⋈ postings ⋈ postings chain: that chain fans every
    // candidate pair out to |shingles| join rows keyed by shingle — a
    // hot shingle concentrates its whole posting-list cross-product in
    // one partition (profiled: the two skewed 5-task stages carrying
    // ~6 s of the query), and AQE's skew splitter never fires at these
    // byte sizes (guide §2.5 — it only splits >256 MB partitions). One
    // set array per doc joined to the (already-bounded) candidate list
    // moves O(|cand|) arrays instead of O(|cand|·n_sh) rows and
    // computes the intersection where the pair lives. n_common is
    // identical: shinglers emit per-doc DISTINCT shingles (the
    // [[Shingler]] contract the prefix arithmetic above already relies
    // on — a duplicate shingle would break ceil(θ·n) prefix sizing
    // long before this join), so join-match count == set-intersection
    // size. Oracle-pinned (dedup_ppjoin) plus DedupSpec equivalence.
    val shSets = sh.groupBy("id").agg(collect_set(col("sh")).as("__set"))
    val common = cand
      .join(shSets.select(col("id").as("id_a"), col("__set").as("__sa")), "id_a")
      .join(shSets.select(col("id").as("id_b"), col("__set").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("long")
          .as("n_common"))
    common
      .join(counts.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(counts.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("n_common") * lit(thQ) >=
        (col("n_a") + col("n_b") - col("n_common")) * lit(thP))
      .select("id_a", "id_b", "n_common", "jaccard")
  }

  /** Benchmark decontamination: flag TRAIN documents sharing at least
    * `minCommon` distinct shingles with any BENCHMARK document — the
    * standard eval-leakage guard in training-corpus curation (the same
    * n-gram-overlap machinery as Jaccard dedup, but asymmetric: the
    * benchmark side is a small curated set, so the shingle join is
    * bounded by |bench| and effectively a broadcast at scale).
    *
    * Shingle-frequency guard (`maxBenchDf`, the contamination analogue
    * of jaccardPairs' `maxShingleDf`): join rows per shingle are
    * train_df × bench_df, so boilerplate shingles shared by many BENCH
    * docs multiply every matching train occurrence — the r14 flagship
    * probe measured the join quadratic (2.4 MB → 161 MB shuffle at 10×)
    * when the bench side grows with the corpus instead of honoring the
    * bounded-curated contract. Shingles appearing in more than
    * `maxBenchDf` bench documents are STOP-LISTED from the join (they
    * carry no leakage signal — a phrase in hundreds of benchmark docs
    * is boilerplate, not an eval answer), bounding join rows per train
    * occurrence at the cap. Default ∞ preserves exact semantics;
    * the capped path is oracle-BOUND by `dedup_contamination_capped`
    * (capped ≠ exact on the fixtures). The df counted is DOCUMENT
    * frequency regardless of shingler: the stop-list is built on a
    * distinct (bid, sh) projection, so a custom Shingler that emits
    * duplicate shingles per doc cannot silently turn the cap into an
    * occurrence-frequency cap (the built-in shinglers are per-doc
    * distinct already, so the distinct is free for them).
    *
    * @return (id, n_bench_hits, max_overlap) per contaminated train doc.
    */
  def contamination(train: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String,
                    shingler: Shingler = Shingler.words(3),
                    minCommon: Int = 5,
                    maxBenchDf: Int = Int.MaxValue): DataFrame = {
    val (ts, tCol) = shingler.stage(train, textCol)
    val (bs, bCol) = shingler.stage(bench, textCol)
    val tsh = ts.select(col(idCol).as("id"), explode(tCol).as("sh"))
    val bsh0 = bs.select(col(idCol).as("bid"), explode(bCol).as("sh"))
    // the stop-list is computed on the (small) bench side only — no
    // extra pass over train, and it never touches the corpus scan. It
    // counts DISTINCT bench docs per shingle (not occurrences), then
    // anti-joins the over-cap shingles back in. The stop-list grows
    // with the bench corpus's boilerplate, so it is broadcast only
    // while provably small (Broadcasts.bounded: materialize + count,
    // hint below the row bound, shuffled anti-join above it) — a
    // blanket hint would OOM the driver at exactly the scale the
    // guard protects against.
    val bsh =
      if (maxBenchDf == Int.MaxValue) bsh0
      else {
        val stop = graft.core.Broadcasts.bounded(
          bsh0.select("bid", "sh").distinct()
            .groupBy("sh").agg(count(lit(1)).as("__df_b"))
            .filter(col("__df_b") > maxBenchDf)
            .select("sh"))
        bsh0.join(stop, Seq("sh"), "left_anti")
      }
    // the benchmark side is small/curated BY DEFINITION — broadcast it
    // explicitly (the explode hides size stats from the planner, so the
    // train side would otherwise pay a full shuffle on shingle strings)
    tsh.join(broadcast(bsh), "sh")
      .groupBy("id", "bid").agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
      .groupBy("id")
      .agg(count(lit(1)).as("n_bench_hits"), max("n_common").as("max_overlap"))
  }

  /** Incremental dedup against a historical corpus: return the incoming
    * rows whose `keyCol` (a fingerprint) does NOT appear in history.
    *
    * The naive plan is an anti-join that shuffles ALL incoming rows
    * against ALL of history — at 100 TB of history that is the most
    * expensive operator in the pipeline. This version first aggregates
    * history's keys into a Bloom filter (distributed partial aggregation;
    * only the fixed-size filter reaches the driver) and broadcasts it:
    *  - BF-negative incoming rows are DEFINITELY new (Bloom filters have
    *    no false negatives) — they skip the join entirely;
    *  - only BF-positive rows (true dups + fpp false positives) pay the
    *    exact anti-join against history.
    * The result is therefore EXACT while the join input shrinks to
    * ~(dup_rate + fpp) of incoming. The oracle is the plain anti-join.
    *
    * Cost notes (the parts that are NOT lazy): the Bloom build is an
    * EAGER aggregation job over history at call time — that scan is the
    * price of shrinking the join, schedule it accordingly. The build and
    * the probe are both NATIVE catalyst expressions
    * (`BloomFilterAggregate` / `BloomFilterMightContain` over
    * `xxhash64(key)`, via the Shims seam — no Scala UDF), so the probe
    * filter stays inside WholeStageCodegen. The flagged incoming
    * relation is evaluated ONCE and cached (tracked in
    * [[graft.core.Caches]]): both the definitely-new branch and the
    * exact-check branch read the cached split, so incoming is neither
    * rescanned nor double-hashed by the union's two consumers.
    *
    * Null keys: `xxhash64(null)` is the (non-null) seed hash, so a null
    * incoming key either skips the join as definitely-new or reaches the
    * anti-join, where a null key never matches — kept either way, same
    * as the exact plan.
    */
  def newAgainstHistory(incoming: DataFrame, history: DataFrame, keyCol: String,
                        expectedItems: Long = 1000000L,
                        fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.graft.Shims
    val bfBytes = buildHistoryBloom(history, keyCol, expectedItems, fpp)
    // the aggregate yields NULL over an empty history — everything is new
    if (bfBytes == null) return incoming
    val flagged = graft.core.Caches.track(
      incoming.withColumn("__graft_bf_hit",
        Shims.bloomMightContain(bfBytes, xxhash64(col(keyCol)))))
    val definitelyNew = flagged.filter(!col("__graft_bf_hit"))
    val needExactCheck = flagged.filter(col("__graft_bf_hit"))
      .join(history.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    definitelyNew.unionByName(needExactCheck).drop("__graft_bf_hit")
  }

  /** Serialized history Bloom filter at the REQUESTED size (null over an
    * empty history). BloomFilterAggregate silently Math.min-caps its
    * size at the session ceilings (maxNumBits 64M / maxNumItems 4M by
    * default) — beyond ~7M history keys at 1% that degrades the
    * effective fpp toward 1 and the "prefilter" flags everything,
    * exactly where it was supposed to pay off. The ceilings are raised
    * to the requested size on a cloned session that runs the eager
    * build only: they exist to bound the OPTIMIZER's own injected
    * runtime filters, and a widened ceiling in the shared session conf
    * would let an unrelated later join build a multi-GB filter.
    */
  private[ops] def buildHistoryBloom(history: DataFrame, keyCol: String,
                                     expectedItems: Long,
                                     fpp: Double): Array[Byte] = {
    import org.apache.spark.sql.graft.Shims
    // optimal bit count for the target fpp: -n·ln(p) / (ln 2)²
    val numBits = math.max(64L, math.ceil(
      -expectedItems.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val clone = Shims.cloneSession(history.sparkSession)
    Seq("spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> numBits,
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> expectedItems)
      .foreach { case (k, needed) =>
        if (clone.conf.get(k).toLong < needed) clone.conf.set(k, needed.toString)
      }
    Shims.ofRows(clone, history.queryExecution.analyzed)
      .select(Shims.bloomFilterAgg(xxhash64(col(keyCol)), expectedItems,
        numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** Connected components over an undirected candidate-pair edge list —
    * the dedup endgame: near-dup PAIRS (minhash/simhash/jaccard output)
    * become CLUSTERS, and one survivor per cluster (the min id) is kept.
    *
    * Algorithm: min-label propagation with POINTER JUMPING. Each round
    * every node takes `min(own, min neighbor label)` (one join + one
    * partial-agged min, hash-partitioned on node id), then labels are
    * shortcut through themselves (`label ← label[label]`, one more
    * self-join) — the classic parallel-CC contraction step that collapses
    * chains exponentially, so rounds are O(log diameter) instead of
    * O(diameter). The 10× scale probe's salted-replica graph (240k edges,
    * chained components) converges in a handful of rounds where plain
    * propagation needed dozens. For adversarial graphs (long chains,
    * skewed stars) see [[connectedComponentsStar]], the small-star/
    * large-star alternative (Kiveris et al.).
    *
    * Convergence is detected from `sum(label)` (decimal-exact): labels
    * only ever decrease elementwise, so ANY change strictly decreases the
    * sum — one partial-aggregated scan of the new labels per round,
    * instead of a join against the previous round. Intermediate label
    * relations register in [[graft.core.Caches]] and are released by the
    * harness after the terminal action.
    *
    * @return (id, label) — label is the min id of the node's component.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter)._1

  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): (DataFrame, Int) = {
    // cache the edge list PRE-PARTITIONED on the per-round join key: the
    // cached InMemoryRelation advertises hashpartitioning(dst), so every
    // round's join shuffles only the (shrinking) labels side — the big
    // static edge relation never re-exchanges
    val edges = graft.core.Caches.track(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct()
        .repartition(col("dst")))
    var labels = graft.core.Caches.track(
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    var converged = false
    var i = 0
    // decimal(38,0): exact at any node-id magnitude/graph size, where a
    // long sum could overflow on 100 TB-scale id spaces
    var prevSum: java.math.BigDecimal = null
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("label").as("nbr_label"))
      val prop = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"))
      // pointer jumping: follow label -> label's own label (chains halve
      // every round; labels only ever decrease so least() is safe).
      // Skipped in round 0: shallow graphs (near-dup clusters, diameter
      // 1-2) converge on plain propagation and shouldn't pay the extra
      // self-join; deep graphs still get O(log diameter) from round 1 on.
      // localCheckpoint (not persist): an iterated plan otherwise nests
      // its whole history every round — the tree blows past the
      // analyzer's recursion depth long before the data is big. Eager
      // checkpoint materializes the round AND resets the plan to a flat
      // LogicalRDD, so per-round plan cost is constant.
      val jumped =
        if (i == 0) prop
        else prop.join(
            prop.select(col("id").as("label"), col("label").as("ll")),
            Seq("label"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("ll"), col("label")))
              .as("label"))
      val next = jumped.localCheckpoint(true)
      val sumNow = next
        .agg(sum(col("label").cast(DecimalType(38, 0))).as("s"))
        .head().getDecimal(0)
      converged = prevSum != null && prevSum.compareTo(sumNow) == 0
      prevSum = sumNow
      labels = next
      i += 1
    }
    (labels, i)
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the adversarial-graph alternative to
    * [[connectedComponents]]' pointer jumping. The state is the EDGE list
    * itself (kept canonical as (hi, lo), lo < hi), which strictly shrinks
    * toward disjoint stars centered at component minima:
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(N(u) ∪ u) — one groupBy(min) + one join on the
    *    both-direction adjacency;
    *  - small-star(u): every neighbor v < u (plus u itself) re-attaches
    *    to m = min(Γ⁻(u) ∪ u) — same shape on the directed list.
    *
    * Both preserve connectivity and only move edges toward smaller ids,
    * so the edge signature (count + decimal sum of xxhash64) is monotone
    * and a stable signature means the stars are final. Each outer round
    * runs large-star TWICE then small-star once: on a path graph one
    * large-star doubles every node's distance-to-minimum reach, so the
    * pair quadruples it per round — half the synchronization barriers of
    * pointer jumping's reach-2^k on long chains, which is exactly the
    * adversarial shape this variant exists for. Unlike pointer jumping
    * (whose label relation stays |V| every round), the shuffled relation
    * here is the edge list, which contracts as stars form.
    *
    * @param strict on round-cap exhaustion without convergence, raise
    *        instead of logging and emitting the (valid but possibly
    *        coarser-than-final) min-label-per-node fallback — for
    *        callers that must not silently ship partially-merged
    *        components (the fail-fast posture of raise_error guards
    *        elsewhere in this codebase). Default keeps the permissive
    *        behavior.
    * @return (id, label) — label is the min id of the node's component;
    *         identical output contract to [[connectedComponents]].
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 25,
                              strict: Boolean = false): DataFrame =
    connectedComponentsStarWithRounds(pairs, aCol, bCol, maxIter, strict)._1

  private[graft] def connectedComponentsStarWithRounds(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, strict: Boolean = false): (DataFrame, Int) = {
    val nodes = graft.core.Caches.track(
      pairs.select(col(aCol).as("id"))
        .union(pairs.select(col(bCol).as("id"))).distinct())

    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val mins = nbrs.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // e is canonical (hi, lo): grouping by hi reads Γ⁻ directly
      val mins = e.groupBy("hi").agg(min(col("lo")).as("m"))
      val reattached = e.join(mins, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo")) // m = min(Γ⁻) < lo
      val self = mins.select(col("hi"), col("m").as("lo"))
      reattached.union(self).distinct()
    }

    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("hi"),
        least(col(aCol), col(bCol)).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint(true)
    var prevSig: Row = null
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIter) {
      // localCheckpoint: flat plan per round (see pointer-jumping notes)
      val next = smallStar(largeStar(largeStar(edges))).localCheckpoint(true)
      val sig = next.agg(count(lit(1)).as("n"),
        sum(xxhash64(col("hi"), col("lo")).cast(DecimalType(38, 0))).as("h")).head()
      converged = prevSig != null && prevSig == sig
      prevSig = sig
      edges = next
      rounds += 1
    }
    // Converged edge sets are disjoint stars (each hi appears once), so the
    // left join is 1:1. On maxIter exhaustion a node may still sit under
    // several hi edges — aggregate to min(label) so the output contract
    // (exactly one row per id) holds unconditionally instead of silently
    // multiplying rows.
    val edgeLabels0 = edges.select(col("hi").as("id"), col("lo").as("label"))
    val edgeLabels =
      if (converged) edgeLabels0
      else if (strict)
        throw new IllegalStateException(
          s"connectedComponentsStar: no convergence after $rounds rounds " +
            s"(maxIter=$maxIter); raise maxIter or drop strict=true to " +
            "accept a coarser-than-final (still valid) labeling")
      else {
        log.warn(
          s"connectedComponentsStar: no convergence after $rounds rounds; " +
            "emitting min-label per node (valid but possibly coarser-than-final labeling)")
        edgeLabels0.groupBy("id").agg(min(col("label")).as("label"))
      }
    val labels = nodes
      .join(edgeLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    (labels, rounds)
  }

  /** Incremental connected components: fold a NEW batch's candidate
    * edges into a prior component assignment without re-running CC over
    * the historical edge set.
    *
    * The prior assignment `(id → label)` is itself a set of star edges
    * that exactly preserves the historical connectivity (every old node
    * connects to its component's min id), so CC over
    * `star(prev) ∪ newPairs` equals CC over `historicalPairs ∪ newPairs`
    * — but the input is nodes-sized (one edge per historical node) plus
    * the new batch, never history-pairs-sized, and the star topology has
    * diameter 2, so the per-batch round count tracks the NEW edges'
    * diameter, not history's. Labels stay canonical: the historical
    * label IS the min id of its old component, and min-label propagation
    * over the union can only keep or lower it, so the output is
    * bit-identical to a full rebuild (the oracle for the
    * `dedup_cluster_incremental` row recomputes exactly that full CC).
    *
    * At 100 TB this is the CC half of the incremental-dedup story: the
    * band index at rest ([[bandIndex]] / `dedup_index`) recovers the
    * new-batch candidate pairs without re-scanning history, and this
    * fold merges them into the standing cluster assignment at
    * per-batch cost ∝ |new edges| + |touched nodes|.
    *
    * @param prevAssign (id, label) from a prior [[connectedComponents]]
    *                   run (or a prior call of this)
    * @param newPairs   candidate pairs where at least one endpoint is new
    * @return (id, label) over all nodes seen so far, labels = component
    *         min id — the same contract as [[connectedComponents]]
    */
  def incrementalComponents(prevAssign: DataFrame, newPairs: DataFrame,
                            aCol: String, bCol: String,
                            maxIter: Int = 20): DataFrame = {
    // keep the root's self-loop (id = label): it is what holds a
    // singleton historical component in the node set when no new edge
    // touches it — CC treats (r, r) as a harmless self-edge
    val starEdges = prevAssign.select(col("id").as(aCol), col("label").as(bCol))
    connectedComponents(
      starEdges.unionByName(newPairs.select(col(aCol), col(bCol))),
      aCol, bCol, maxIter)
  }

  /** 16-bit SimHash from word-level md5 nibbles: bit b of the signature is
    * the sign of Σ_words (2·bit_b(md5(word)) − 1). Computed with one
    * explode + one aggregation; each bit's source is hex digit b/4,
    * shifted by b%4 — all portable integer arithmetic.
    */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = df.select(col(idCol),
      explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .withColumn("h4", substring(md5(col("w")), 1, 4))
    val bitSums = (0 until 16).map { b =>
      val nib = conv(substring(col("h4"), b / 4 + 1, 1), 16, 10).cast("long")
      sum(shiftright(nib, b % 4) % 2 * 2 - 1).as(s"s$b")
    }
    val agg = words.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until 16).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col(idCol), hash.as("simhash"))
  }

  /** Near-dup candidates by SimHash with Hamming distance ≤ `maxHamming`.
    *
    * NOT a cross join: by pigeonhole, two signatures within Hamming r must
    * agree exactly on at least one of r+1 disjoint bit-chunks — so
    * candidates come from an equi-join on (chunk index, chunk value), and
    * only then is the true Hamming distance verified with bit_count(xor).
    * Complete recall, and the shuffle carries (id, chunk, ≤16-bit value).
    */
  def simhashPairs(sig: DataFrame, idCol: String, maxHamming: Int = 2,
                   bits: Int = 16,
                   maxChunkDf: Int = Int.MaxValue): DataFrame = {
    val nChunks = maxHamming + 1
    val chunkBits = (bits + nChunks - 1) / nChunks
    val mask = (1L << chunkBits) - 1L
    val chunkKeys = (0 until nChunks).map(c => struct(lit(c).as("chunk"),
      shiftright(col("simhash"), c * chunkBits).bitwiseAND(lit(mask)).as("cv")))
    val chunks0 = sig.select(col(idCol), col("simhash"),
        explode(array(chunkKeys: _*)).as("ck"))
      .select(col(idCol), col("simhash"), col("ck.chunk"), col("ck.cv"))
    if (maxChunkDf == Int.MaxValue) {
      // EXACT mode: all pairs at Hamming ≤ r (complete recall + precision)
      val a = chunks0.as("a"); val b = chunks0.as("b")
      a.join(b, col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv")
          && col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long")
            .as("hamming"))
        .distinct() // a pair can match on several chunks
        .filter(col("hamming") <= maxHamming)
    } else {
      // MASS-DUPLICATE GUARD (the minhashCandidates maxBandDf pattern):
      // a corpus with thousands of IDENTICAL signatures (boilerplate
      // pages, template images) makes every small chunk group quadratic
      // — the r9 scale probe measured 106M pairs from 50k fixture images.
      // Chunk groups over the cap degrade to the id-ordered chain:
      // O(group) pairs whose connected components are unchanged (every
      // group member shares the chunk value, so the chain connects them
      // all). Chain pairs carry the REAL pairwise Hamming distance,
      // which for an oversized group of merely-similar (not identical)
      // signatures can exceed maxHamming — those rows keep hamming as
      // measured and are NOT filtered, because dropping them would
      // disconnect the component. Use capped mode for CLUSTERING
      // consumers only; pair-level verify filters need exact mode
      // (same caveat as minhashCandidates' chain pairs).
      val wChunk = Window.partitionBy("chunk", "cv")
      val chunks = graft.core.Caches.track(
        chunks0.withColumn("df_c", count(lit(1)).over(wChunk)))
      val small = chunks.filter(col("df_c") <= maxChunkDf)
      val smallPairs = small.as("a").join(small.as("b"),
          col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv")
            && col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long")
            .as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxHamming)
      val chainPairs = chunks.filter(col("df_c") > maxChunkDf)
        .withColumn("next_id", lead(col(idCol), 1).over(wChunk.orderBy(col(idCol))))
        .withColumn("next_sh", lead(col("simhash"), 1).over(wChunk.orderBy(col(idCol))))
        .filter(col("next_id").isNotNull)
        .select(col(idCol).as("id_a"), col("next_id").as("id_b"),
          bit_count(col("simhash").bitwiseXOR(col("next_sh"))).cast("long")
            .as("hamming"))
        .distinct()
      smallPairs.unionByName(chainPairs).distinct()
    }
  }

  // Precision 30 (not 38): decimal(38,14)+decimal(38,14) hits Spark's
  // 38-digit cap and silently drops to scale 13, rounding the accumulator
  // every step. At (30,14) the add result is (31,14) — exact — and the
  // cast back to (30,14) loses nothing.
  private val Dec = DecimalType(30, 14)

  /** Exact (order-independent) dot product of two float-array columns:
    * cast to double per element, accumulate in decimal — bit-identical in
    * Spark and DuckDB, stays row-local (no explode/shuffle).
    */
  def dotExact(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast(Dec)),
      lit(0).cast(Dec), (acc, x) => (acc + x).cast(Dec)).cast("double")

  def normExact(a: Column): Column = sqrt(dotExact(a, a))

  /** Fast dot product — the custom codegen'd [[graft.functions.DotProduct]]
    * expression (tight primitive loop inside WholeStageCodegen).
    * Order-deterministic sequential sum but engine-specific; use for
    * pre-filtering, not for oracle-visible values.
    */
  def dotFast(a: Column, b: Column): Column = graft.functions.VectorOps.dot(a, b)

  /** Embedding-cosine near-duplicate pairs, blocked by a partition column
    * (here: the IVF-style `label` cluster — at 100 TB the blocker is the
    * coarse quantizer, so only intra-cluster pairs are scored).
    *
    * Two-phase scoring: a cheap double-arithmetic cosine prunes the pair
    * set with a small safety margin (double vs exact error ≪ 1e-9), and
    * the exact decimal cosine is recomputed only for survivors — the
    * reported values and the threshold decision are bit-exact.
    *
    * `subBlocks` > 1 splits every block into B md5-derived sub-blocks and
    * replicates each side B× so the pairwise join fans out to B²
    * independent cells per block — the fix for HOT blocks, where
    * parallelism is otherwise capped at #blocks (see the 10× probe in
    * PLANS.md). Result set is identical for every B.
    */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
                        blockCol: String, threshold: Double,
                        subBlocks: Int = 1): DataFrame = {
    val withNorm = emb.select(col(idCol).as("id"), col(blockCol).as("blk"),
      col(vecCol).as("v"), sqrt(dotFast(col(vecCol), col(vecCol))).as("nrmf"))
    val (a, b) =
      if (subBlocks <= 1) (withNorm.as("a"), withNorm.as("b"))
      else {
        // Hot-block sub-blocking (1-Bucket-Theta style): a block with n
        // rows costs O(n²) in ONE task when the join key is just blk —
        // parallelism is capped at #blocks however many cores exist.
        // Splitting each block into B deterministic sub-blocks (md5(id)
        // mod B) and replicating each side B× under keys
        // (blk, sub_left, sub_right) makes every (sub_left, sub_right)
        // cell an independent task: B² cells per block for a B× shuffle
        // — the classic replicate-for-parallelism trade. Each pair
        // (a, b) meets in exactly one cell (a's own sub × b's own sub),
        // so the result set is IDENTICAL for every B.
        val sub = conv(substring(md5(col("id").cast("string")), 1, 4), 16, 10)
          .cast("long") % subBlocks
        val cell = explode(sequence(lit(0), lit(subBlocks - 1)))
        (withNorm.withColumn("sl", sub).withColumn("sr", cell).as("a"),
          withNorm.withColumn("sr", sub).withColumn("sl", cell).as("b"))
      }
    val subCond =
      if (subBlocks <= 1) lit(true)
      else col("a.sl") === col("b.sl") && col("a.sr") === col("b.sr")
    // denominators floored at 1e-60 (the house zero-norm guard, squared
    // scale since these are norm PRODUCTS): under ANSI mode one zero
    // vector in a block would otherwise throw DIVIDE_BY_ZERO and kill
    // the job; with the floor its cosine is 0 and the threshold filter
    // drops it. For real embeddings greatest() passes the product
    // through bit-unchanged, so oracle hashes are unaffected.
    a.join(b, col("a.blk") === col("b.blk") && subCond && col("a.id") < col("b.id"))
      .filter(dotFast(col("a.v"), col("b.v")) /
        greatest(col("a.nrmf") * col("b.nrmf"), lit(1e-60))
        >= threshold - 1e-6)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dotExact(col("a.v"), col("b.v")) /
          greatest(normExact(col("a.v")) * normExact(col("b.v")),
            lit(1e-60))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** EXACT duplicated-substring spans (the sequence-level dedup of Lee
    * et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better" — their suffix-array ExactSubstr pass, re-expressed as a
    * relational k-gram-run merge): for every document, the MAXIMAL
    * word intervals covered by word k-grams that occur more than once
    * in the whole corpus (any repeat counts — other docs or elsewhere
    * in the same doc). Where document-level MinHash keeps or drops
    * whole docs, this finds the boilerplate/licence/quoted SPANS inside
    * otherwise-unique documents — what a trainer actually trims.
    *
    * Relational shape instead of a suffix array (which is inherently
    * single-machine): (1) one scan emits each doc's positional k-gram
    * MD5s — (id, pos, 32-hex) tuples, never text; (2) one map-side
    * combined count by hash keeps hashes with count > 1; (3) a
    * LEFT-SEMI join marks duplicated positions (semi: no fan-out on
    * boilerplate hashes — a k-gram in 100k docs adds nothing to the
    * probe side); (4) per-doc gaps-and-islands merges positions into
    * maximal intervals: k-grams at p and q overlap-or-touch iff
    * q − p ≤ k, so a new span starts exactly when the lag gap
    * exceeds k. Every exchange carries fixed-width tuples; the only
    * corpus-sized relation is the positional hash list itself, which
    * IS this operator's subject (unlike winnowing, which samples it).
    *
    * @return one row per maximal span: (idCol, span_start, span_end,
    *         span_words, n_kgrams), word positions 1-based inclusive.
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 8): DataFrame = {
    require(k >= 2, s"need k >= 2 (got k=$k)")
    val words = split(trim(col(textCol)), "\\s+")
    // sequence(1, n) flips to a DESCENDING range when n < 1 — guard
    // short docs out before building positions
    val pos = docs
      .select(col(idCol), words.as("__w"))
      .filter(size(col("__w")) >= k)
      // pos is cast to long AT CREATION so span_start/span_end inherit
      // BIGINT — sequence() yields int elements, and the DuckDB oracle's
      // generate_series yields BIGINT; the driver compares dtypes
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__w")) - lit(k - 1)),
        i => struct(i.cast("long").as("pos"),
          md5(concat_ws(" ", slice(col("__w"), i, lit(k)))).as("h"))))
        .as("__p"))
      .select(col(idCol), col("__p.pos").as("pos"), col("__p.h").as("h"))
    val cached = graft.core.Caches.track(pos)
    val dupHashes = cached.groupBy(col("h")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).select(col("h"))
    val dupPos = cached.join(dupHashes, Seq("h"), "left_semi")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    dupPos
      // two window steps (a window fn can't nest inside another): the
      // break flag from lag, then its running sum as the island id —
      // both run in ONE window exec pass (same partitioning/ordering)
      .withColumn("__brk", when(lag(col("pos"), 1).over(w).isNull ||
        col("pos") - lag(col("pos"), 1).over(w) > k, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__brk")
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"),
        (max(col("pos")) + lit(k - 1) - min(col("pos")) + 1)
          .cast("long").as("span_words"),
        count(lit(1)).as("n_kgrams"))
      .drop("__island")
      .orderBy(col(idCol), col("span_start"))
  }

  /** Corpus-level readout over [[dupSpans]]: per document-source slice,
    * the fraction of words sitting inside a duplicated span — the
    * "how much of this source is boilerplate someone else already
    * contributed" number that decides trimming policy per source.
    * Maximal spans are disjoint by construction, so per-doc duplicated
    * words are a plain sum; totals are one map-side combined aggregate
    * each, joined on the bounded slice key.
    */
  def dupSpanFrac(docs: DataFrame, idCol: String, textCol: String,
                  sliceCol: String, k: Int = 8): DataFrame = {
    val spans = dupSpans(docs, idCol, textCol, k)
    val perDoc = spans.groupBy(col(idCol))
      .agg(sum(col("span_words")).as("__dup"))
    val base = docs.select(col(idCol), col(sliceCol).as("slice"),
      size(split(trim(col(textCol)), "\\s+")).cast("long").as("__n"))
    base.join(perDoc, Seq(idCol), "left")
      .groupBy(col("slice"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).as("n_words"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_dup_words"))
      .select(col("slice"), col("n_docs"), col("n_words"),
        col("n_dup_words"),
        (col("n_dup_words").cast("double") / col("n_words").cast("double"))
          .as("dup_frac"))
      .orderBy(col("slice"))
  }
}
