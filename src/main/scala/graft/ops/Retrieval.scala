package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.IndexCommits

/** Sparse text retrieval over the document corpus: a distributed inverted
  * index and BM25 ranked search — the retrieval half of a training-data
  * pipeline (dataset search, decontamination lookups, quality-by-query
  * probes). (North-star extension surface; reference analogue: the
  * keyword-filter scan shape of
  * /root/reference/diagnostic_group_pipeline_with_api.py:131.)
  *
  * Cross-engine determinism (the DuckDB hash gate): BM25's idf is the
  * LOG-FREE Robertson form `(N - df + 0.5) / (df + 0.5)` — the classic
  * `ln` wrapper is monotone in it, so rankings for any single term agree
  * and multi-term scores remain a valid relevance surrogate, while the
  * score stays a pure IEEE-arithmetic expression (libm `ln` differs in
  * the last ulp across engines and would break the bit-exact gate).
  * Per-term addends are cast to a wide decimal before the per-document
  * sum, so aggregation order can never change the score. The summed
  * score is then re-quantized to 6 decimals: the addends are magnitude
  * ~10¹ doubles whose ulp (~4e-15) is finer than the 1e-14 decimal
  * quantum, so engines that round the shortest decimal string (JVM
  * BigDecimal.valueOf) vs the exact binary value can disagree in the
  * 14th place — 10⁻⁶ is 10⁹× coarser than any such discrepancy. The
  * quantization is spelled `floor(sum·10⁶ + ½)` rather than a decimal
  * downscale-cast because rescale rounding is NOT portable (Spark
  * rounds HALF_UP, DuckDB truncates); every step is exact decimal
  * arithmetic and the final ≤2⁵³ integer divides by 10⁶ identically in
  * any IEEE engine.
  *
  * Plan shape at 100 TB:
  *  - the INDEX build never materializes an unbounded posting group: df
  *    is counted first (map-side combinable), the stopword band
  *    (`df > maxDf`) is dropped, and only then are postings collected —
  *    the `collect_list` group size is bounded by `maxDf` by
  *    construction. Stopword postings (the scale killer: "the" occurs in
  *    every English document, a single-key list of 10¹⁰ ids) never
  *    exist.
  *  - BM25 prunes to the query's terms IMMEDIATELY after the token
  *    explode (a handful of terms survive the scan stage), the per-term
  *    df dimension is a ≤|query| row broadcast, and the final top-k is
  *    `orderBy().limit(k)` = TakeOrderedAndProject — per-partition heaps
  *    and a k-row driver merge, never a global sort.
  */
object Retrieval {

  private def words(text: Column): Column =
    filter(split(trim(text), "\\s+"), w => w =!= "")

  /** Distributed inverted index with a stopword df-cap: one row per
    * surviving term carrying its document frequency and the full
    * posting list (doc ids sorted by their native type's ordering —
    * numeric for numeric ids — then comma-joined into a string so the
    * row is hashable by any engine).
    *
    * Shuffle structure, chosen for skew: the distinct hashes on
    * (doc, term) — every partition of a stopword's pairs lands
    * somewhere different, so no hot partition exists while the stopword
    * is still alive. (The tempting alternative — pre-partition by term
    * so the later aggregates reuse one exchange — funnels all 10¹⁰
    * (the, doc) pairs through one task; one balanced shuffle plus two
    * cheap keyed ones beats one skewed shuffle.) The df count is
    * map-side combined (the term exchange carries partial counts, not
    * pairs), and the postings exchange carries ONLY pairs whose term
    * survived the df-cap — bounded groups by construction. The pairs
    * relation feeds both aggregates and is cached (Caches.track, the
    * dedupLines precedent) rather than recomputed from two corpus scans.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    maxDf: Long): DataFrame = {
    // the id keeps its NATIVE type end to end (a cast("long") here would
    // silently null out string ids and collapse every posting list):
    // sorting happens on the native type, stringification only at emit
    val pairs = graft.core.Caches.track(docs
      .select(col(idCol).as("__doc"),
        explode(words(col(textCol))).as("term"))
      .distinct()) // posting-list semantics: a doc appears once per term
    val df = pairs.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    pairs.join(df, "term")
      .groupBy("term", "df")
      .agg(array_join(
        transform(array_sort(collect_list(col("__doc"))),
          x => x.cast("string")), ",").as("postings"))
      .select("term", "df", "postings")
  }

  /** Materialize the BM25 index AT REST (the ivfWriteLayout pattern for
    * text): a postings table (term, doc, tf, dl) range-partitioned and
    * sorted by term — so a term-equality query prunes to a handful of
    * files via parquet min/max — plus per-batch corpus-stats rows
    * holding EXACT integers (sum of doc lengths, doc count), summed at
    * serve time so avgdl is the same single double division the
    * corpus-scan path computes. Build cost: the one explode + one
    * (doc, term) aggregate any index build pays; serving then never
    * touches the corpus. Layout is batch-structured ([[writeBatch]]) so
    * [[appendToIndex]] maintenance is idempotent and crash-safe.
    */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String): Unit = {
    // a fresh build owns the whole directory: clear any previous batches
    textStore(docs.sparkSession, path).reset()
    writeBatch(docs, idCol, textCol, path, batchId = 0L)
  }

  /** One maintenance unit: this batch's postings and its 1-row stats
    * delta, each written with OVERWRITE semantics into a `batch=<id>`
    * subdirectory, then a zero-byte COMMIT MARKER under `commits/`.
    * Readers filter both postings and stats to marked batches, so a
    * crash anywhere inside a batch write — including between the
    * postings and stats writes, where the two would otherwise disagree
    * about whether the batch exists — leaves the batch entirely
    * invisible until the retry of the SAME batch id rewrites its
    * subdirectories (idempotent: no duplicate postings, no
    * double-counted stats) and re-marks it. Nothing ever deletes a
    * previously committed batch. Serve-side totals are a sum over the
    * committed per-batch stats rows (exact integers), so avgdl/N are
    * identical to a from-scratch build's.
    *
    * An EMPTY batch still gets a schema-bearing parquet file (the
    * store's empty-unit guard): an empty-corpus index must serve an
    * empty result, not fail schema inference on a file-less directory.
    *
    * The postings layout (shared by full build and append — drift would
    * break the serve-identical guarantee) ranges by (term, doc), not
    * term alone: a stopword's postings would otherwise land in ONE range
    * partition (range split points cannot divide a single key value);
    * the secondary key spreads a hot term across partitions while files
    * stay term-sorted, so min/max pruning still skips everything outside
    * the query terms.
    */
  private def writeBatch(docs: DataFrame, idCol: String, textCol: String,
                         path: String, batchId: Long): Unit = {
    val spark = docs.sparkSession
    // cached: the batch feeds the stats delta AND the postings write —
    // one tokenization pass, and the two can never disagree even over a
    // non-deterministic source
    val base = graft.core.Caches.track(
      docs.select(col(idCol), words(col(textCol)).as("__ws")))
    val d = base.agg(coalesce(sum(size(col("__ws"))), lit(0L)).as("sum_dl"),
      count(lit(1)).as("n_docs")).head()
    val postings = base
      .select(col(idCol), size(col("__ws")).as("dl"),
        // OUTER: a zero-word doc (empty/whitespace text) emits one
        // null-term MARKER row (tf 0, no positions). Queries never see
        // it (every term predicate is an isin over non-null words), but
        // deleteFromIndex derives its (id, dl) tombstones from postings
        // rows — without the marker a zero-word doc could never be
        // deleted from the corpus stats, leaving N one too high forever
        // (breaking the rebuild-equivalence the specs pin). It also
        // makes "n_docs > 0 ⟹ ≥1 postings row" true by construction,
        // which is exactly what [[laidOut]] needs.
        posexplode_outer(col("__ws")).as(Seq("__pos", "term")))
      .groupBy(col("term"), col(idCol), col("dl"))
      // POSITIONAL postings: tf for BM25, the sorted position list for
      // phrase queries — one index serves both. Position lists are
      // bounded by doc length per (term, doc), not corpus size.
      .agg(count(col("term")).as("tf"), // 0 on the marker row
        array_sort(collect_list(col("__pos").cast("integer")))
          .as("positions"))
    // both halves, then the marker (readers filter on it)
    textStore(spark, path).write(batchId,
      laidOut(postings, idCol, d.getLong(1)),
      statsRow(spark, d.getLong(0), d.getLong(1)))
  }

  /** The text index's units: `postings` and the 1-row `stats` delta. The
    * marker state machine (batch_/del_/compact_ replay, atomic compaction
    * commit, vacuum sweep) is the shared [[graft.core.IndexCommits]]. */
  private def textStore(spark: org.apache.spark.sql.SparkSession,
                        path: String): IndexCommits.Store =
    IndexCommits.Store(spark, path,
      Seq(IndexCommits.Part("postings"), IndexCommits.Part("stats")))

  /** The postings layout of build, append and compaction: ranged by
    * (term, doc), term-sorted within files. Zero docs means zero rows
    * (every doc, a zero-word one too, emits at least its marker row), and
    * there is nothing to range: the rows go as they are, and the store's
    * empty-unit guard keeps the unit schema-bearing. */
  private def laidOut(postings: DataFrame, idCol: String,
                      nDocs: Long): DataFrame =
    if (nDocs == 0L) postings
    else postings.repartitionByRange(col("term"), col(idCol))
      .sortWithinPartitions("term", idCol)

  /** A unit's corpus-stats row: exact integer totals. */
  private def statsRow(spark: org.apache.spark.sql.SparkSession,
                       sumDl: Long, nDocs: Long): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(sumDl, nDocs)),
        StructType(Seq(StructField("sum_dl", LongType, nullable = false),
          StructField("n_docs", LongType, nullable = false))))
      .coalesce(1)
  }

  /** The committed postings relation: the `batch=<id>` partition column
    * filter prunes uncommitted (crashed, in-flight) and superseded
    * (compacted-away) batch directories at the scan, and committed
    * tombstones anti-join away deleted docs. The anti-join joins on the
    * doc id AFTER any term predicate has been pushed below it, so a
    * query-term serve path carries only its own postings into the join.
    *
    * Takes the state EXPLICITLY: every operation snapshots servedState
    * exactly once and threads it to each read — two independent
    * snapshots inside one operation would race a concurrent commit
    * (e.g. a compaction whose supersede list omits a batch its postings
    * read already folded in, double-serving that batch forever).
    */
  private def readPostings(spark: org.apache.spark.sql.SparkSession,
                           path: String, idCol: String,
                           state: IndexCommits.State): DataFrame =
    textStore(spark, path).served(state, "postings", Some(idCol))

  /** Served corpus totals: the sum over all committed per-batch stats
    * rows MINUS the committed tombstones' contribution (each deleted
    * doc's length was captured once, at delete time, from its own
    * postings) — exact integer arithmetic end to end, so avgdl is the
    * same single double division a from-scratch build over the
    * surviving corpus computes.
    */
  private def readStats(spark: org.apache.spark.sql.SparkSession,
                        path: String, idCol: String,
                        state: IndexCommits.State): DataFrame = {
    val store = textStore(spark, path)
    val base = store.served(state, "stats")
      .agg(coalesce(sum("sum_dl"), lit(0L)).as("sum_dl"),
        coalesce(sum("n_docs"), lit(0L)).as("n_docs"))
    store.tombstones(state) match {
      case None => base
      case Some(t) =>
        // dedupe before subtracting: an id re-deleted by a second batch
        // (tombstone ids may repeat) must reduce N and Σdl exactly once
        val tomb = t.groupBy(col(idCol)).agg(max("dl").as("dl"))
          .agg(coalesce(sum("dl"), lit(0L)).as("__tdl"),
            count(lit(1)).as("__tn"))
        base.crossJoin(tomb)
          .select((col("sum_dl") - col("__tdl")).as("sum_dl"),
            (col("n_docs") - col("__tn")).as("n_docs"))
    }
  }

  /** Exact phrase search SERVED FROM the at-rest index: the same answer
    * as [[phraseSearch]] (spec-pinned) without touching the corpus. The
    * postings scan reads only the phrase's terms (pushed-down filter →
    * file/row-group pruning on the term-ranged layout); each posting row
    * is then tagged with its phrase SLOT(s) via a broadcast of the
    * (slot, term) list and its positions shifted by the slot index, so a
    * phrase start `p` is a position present in EVERY slot's shifted
    * list. One groupBy(doc) verifies all slots in a single pass —
    * sort the slot structs, fold `array_intersect` across them — which
    * makes the whole plan ONE exchange after the postings scan
    * regardless of phrase length (spec-pinned; the previous formulation
    * planned k−1 chained joins for a k-word phrase). Work scales with
    * the PHRASE TERMS' postings, not the corpus: the classic inverted-
    * index phrase plan.
    */
  def phraseFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      idCol: String, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one word")
    import spark.implicits._
    val slots = phrase.zipWithIndex.map { case (t, j) => (j, t) }
      .toDF("__slot", "term")
    val starts = readPostings(spark, path, idCol,
        textStore(spark, path).snapshot())
      .filter(col("term").isin(phrase.distinct: _*)) // pushed to the scan
      .join(broadcast(slots), "term") // a repeated word fans out per slot
      .select(col(idCol), col("__slot"),
        // candidate phrase STARTS contributed by this slot: pos − slot
        transform(col("positions"), p => p - col("__slot")).as("__starts"))
    val sorted = array_sort(collect_list(struct(col("__slot"), col("__starts"))))
    val inter = aggregate(
      slice(sorted, lit(2), lit(math.max(phrase.length - 1, 0))),
      sorted.getItem(0).getField("__starts"),
      (acc, x) => array_intersect(acc, x.getField("__starts")))
    starts.groupBy(col(idCol))
      .agg(size(inter).cast("long").as("n_matches"),
        count(lit(1)).as("__n_slots"))
      // (term, doc) rows are unique, so a doc matches only with every
      // slot present; drop docs missing any phrase word
      .filter(col("__n_slots") === lit(phrase.length.toLong) &&
        col("n_matches") > 0)
      .select(col(idCol), col("n_matches"))
  }

  /** PROXIMITY ranking from the positional index: documents containing
    * BOTH query terms, ranked by how close together they occur —
    * min |posA − posB| over all occurrence pairs, scored 1/(1+gap).
    * The ranking signal between exact-phrase (gap constraint = 1,
    * ordered) and bag-of-words BM25 (no position signal at all):
    * "spark … vector" three words apart outranks a doc mentioning the
    * terms in different paragraphs. Plan: the postings scan reads ONLY
    * the two terms' rows (pushed filter on the term-ranged layout), a
    * doc-keyed 2-row pivot, and the min-gap scan runs INSIDE the row
    * over the two position arrays (O(tfA·tfB) with per-term tf bounded
    * by the indexer's df discipline); TakeOrderedAndProject tail, never
    * a global sort, corpus never touched.
    */
  def proximityFromIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, idCol: String, termA: String,
                         termB: String, k: Int): DataFrame = {
    require(termA != termB, "two distinct terms")
    val posts = readPostings(spark, path, idCol,
        textStore(spark, path).snapshot())
      .filter(col("term").isin(termA, termB))
    val byDoc = posts.groupBy(col(idCol))
      .agg(
        first(when(col("term") === termA, col("positions")),
          ignoreNulls = true).as("__pa"),
        first(when(col("term") === termB, col("positions")),
          ignoreNulls = true).as("__pb"))
      .filter(col("__pa").isNotNull && col("__pb").isNotNull)
    val minGap = aggregate(col("__pa"), lit(Int.MaxValue),
      (acc, p) => least(acc, aggregate(col("__pb"), lit(Int.MaxValue),
        (acc2, q) => least(acc2, abs(p - q)))))
    byDoc
      .select(col(idCol), size(col("__pa")).cast("long").as("tf_a"),
        size(col("__pb")).cast("long").as("tf_b"),
        minGap.cast("long").as("min_gap"))
      .withColumn("prox_score", lit(1.0) / (lit(1.0) + col("min_gap")))
      .orderBy(col("prox_score").desc, col(idCol))
      .limit(k)
  }

  /** Exact phrase search: documents containing the words of `phrase`
    * ADJACENT and IN ORDER, with the match count per document. Runs as a
    * single scan-stage expression; no shuffle, no self-join. (The
    * positional-join formulation — tokens self-joined on (doc, pos+1) —
    * shuffles the whole token stream per phrase word; adjacency within
    * a row never needs an exchange.)
    *
    * Expression shape matters here: an `element_at(ws, i+j)` lookup
    * inside a lambda would get the staged word array INLINED back by
    * CollapseProject and re-split the text once per candidate position —
    * O(words²·chars) per row (measured 3s+ at sf0.1). Instead each
    * phrase word contributes one boolean `transform` over the array and
    * the k arrays are AND-combined through shifted `zip_with` slices
    * (the bigramPairs idiom) — every array argument evaluates O(k)
    * times per ROW, per-element work is O(1), total O(k·words).
    * Compose with [[bm25]]/[[invertedIndex]] for the candidate-then-
    * verify retrieval stack.
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one word")
    val ws = words(col(textCol))
    def eq(j: Int): Column = transform(ws, w => w === lit(phrase(j)))
    // acc(i) = words i..i+j all match phrase(0..j); the shifted slice
    // pads with null, and null lands false-side via the <=> filter
    val acc = (1 until phrase.length).foldLeft(eq(0)) { (a, j) =>
      zip_with(a,
        slice(eq(j), lit(j + 1), greatest(size(ws) - j, lit(0))),
        (x, y) => x && y)
    }
    docs
      .select(col(idCol),
        size(filter(acc, x => x <=> lit(true))).cast("long").as("n_matches"))
      .filter(col("n_matches") > 0)
  }

  /** Incremental index maintenance: append a batch of NEW documents to
    * an existing at-rest index without rebuilding it. Correct by
    * construction because the postings table is keyed (term, doc) and
    * per-term df is derived at SERVE time from the postings themselves —
    * new docs only ever ADD rows, so appending their postings files and
    * refreshing the (1-row) corpus stats is the whole maintenance story;
    * no index-wide df bookkeeping exists to go stale. The caller owns
    * the only invariant: batch doc ids must be disjoint from the indexed
    * ones (re-ingesting a doc would double-count its tf).
    *
    * Crash safety by construction (see [[writeBatch]]): every batch
    * writes its postings AND its stats delta into its own `batch=<id>`
    * subdirectories with overwrite semantics — a crash anywhere is
    * healed by retrying the SAME batch id (idempotent: the retry
    * rewrites exactly its own subdirectories, never duplicating
    * postings or double-counting stats), which is precisely the
    * [[graft.core.BatchLedger]] idempotent-batch integration. Batch ids
    * must be fresh per logical batch (a ledger allocation) and doc ids
    * disjoint from already-indexed ones.
    */
  def appendToIndex(docs: DataFrame, idCol: String, textCol: String,
                    path: String, batchId: Long): Unit = {
    require(batchId > 0, "batch 0 is the full build; appends use fresh ids")
    writeBatch(docs, idCol, textCol, path, batchId)
  }

  /** Delete documents from the index WITHOUT rewriting any postings —
    * the right-to-be-forgotten operation a 100 TB index cannot answer
    * with a rebuild. A delete is its own batch unit: one `(id, dl)` row
    * per doc actually present, written under `tombstones/batch=<id>`
    * and committed with a `del_<id>` marker. Serving then anti-joins
    * postings against the committed tombstones (after term pruning, so
    * a query carries only its own terms' postings into the join) and
    * subtracts the captured doc lengths from the corpus stats — scores
    * are IDENTICAL to a from-scratch build over the surviving corpus
    * (spec-pinned), because df is derived at serve time and avgdl/N
    * come from exact integer arithmetic.
    *
    * Cost: ONE postings scan per delete batch (to capture each deleted
    * doc's length — `dl` repeats on the doc's every posting row), ∝ the
    * index, amortized across the batch; the per-query serve cost is the
    * tombstone anti-join, ∝ deleted docs, reclaimed by [[compactIndex]].
    *
    * Idempotency/crash safety: a crash before the marker leaves the
    * batch invisible; retrying the SAME id overwrites its own
    * subdirectory and re-marks. A retry AFTER the marker exists is a
    * no-op return — recomputing the delta then would see the doc
    * already tombstone-filtered and write an empty batch over a
    * committed one. Deleting an id that is not in the index contributes
    * nothing; re-deleting an already-deleted id is serve-side
    * deduplicated (max over identical dl values). The one caller-owned
    * invariant mirrors the append's: a deleted id must never be
    * re-ingested while its tombstone is live (the tombstone would
    * silently hide the new doc); compaction retires tombstones.
    */
  def deleteFromIndex(docIds: DataFrame, idCol: String, path: String,
                      batchId: Long): Unit = {
    val spark = docIds.sparkSession
    val store = textStore(spark, path)
    // one file: a delete batch is ∝ its deleted docs (id + length), tiny
    // relative to the index. Once committed, the delta is durable and is
    // not recomputed (that would corrupt it).
    store.delete(batchId,
      readPostings(spark, path, idCol, store.snapshot())
        .join(docIds.select(col(idCol)).distinct(), Seq(idCol))
        .groupBy(col(idCol)).agg(max("dl").as("dl")))
  }

  /** Compact the index: fold every served batch and every served
    * tombstone into ONE fresh batch — the LSM maintenance step that
    * reclaims the per-query tombstone anti-join and the per-append
    * small-file accumulation. The rewrite reads exactly what serving
    * reads (tombstone-filtered postings, subtracted stats), lays it out
    * identically to a fresh build (term-ranged, term-sorted files), and
    * commits with ONE atomic rename of a `compact_<newBatchId>` marker
    * whose content names every superseded marker — so readers flip from
    * the old batch set to the compacted batch in a single filesystem
    * operation, and a crash anywhere before the rename leaves the old
    * state served untouched. Retrying a committed compaction is a
    * no-op; retrying a crashed one overwrites its own directories.
    * Superseded directories stay on disk (still readable mid-flight by
    * concurrent queries planned against the old state) until
    * [[vacuumIndex]] sweeps them.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   idCol: String, newBatchId: Long): Unit = {
    // ONE state snapshot feeds the postings read, the stats read, AND the
    // supersede list (the store's compaction contract)
    textStore(spark, path).compact(newBatchId) { state =>
      val d = readStats(spark, path, idCol, state).head()
      // n_docs == 0 ⟺ zero served rows (every doc carries at least its
      // null-term marker row, and the tombstone anti-join removes marker
      // and postings rows together)
      Seq(laidOut(readPostings(spark, path, idCol, state).drop("batch"),
          idCol, d.getLong(1)),
        statsRow(spark, d.getLong(0), d.getLong(1)))
    }
  }

  /** Sweep directories no longer reachable from the served state —
    * batches and tombstones superseded by a committed compaction (the
    * shared [[graft.core.IndexCommits.vacuum]] sweep; this index's
    * units are postings + stats per batch, tombstones per delete).
    * Returns how many batch units were removed.
    */
  def vacuumIndex(spark: org.apache.spark.sql.SparkSession,
                  path: String): Int =
    textStore(spark, path).vacuum()

  /** RATIO-IDF BM25 (the [[bm25]] variant — see that method's doc for
    * the deviation from textbook BM25) served from the written index:
    * the postings scan carries a pushed-down `term IN (...)` filter
    * (file-level min/max pruning on the range-partitioned layout, then
    * row-group pruning), so a query reads its terms' postings and the
    * 1-row stats — never the corpus. Bit-identical to [[bm25]] on the
    * same corpus (shared scoring expression; spec-pinned).
    */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    idCol: String, queryTerms: Seq[String],
                    topK: Int, asOf: Long = Long.MaxValue): DataFrame = {
    // one snapshot for both reads: stats and postings must describe the
    // SAME committed set, or a delete landing between them would subtract
    // a doc's length while still scoring its postings. `asOf` < MaxValue
    // serves the TIME-TRAVEL snapshot: only markers with id ≤ asOf
    // replay ([[graft.core.IndexCommits.servedStateAsOf]]) — the index
    // as it stood after that batch committed, with vacuum as the
    // retention horizon.
    val state = textStore(spark, path).snapshot(asOf)
    val stats = readStats(spark, path, idCol, state)
      // n_docs = 0 (an empty index) must serve an empty result, not a
      // NaN-poisoned avgdl — the guard keeps the division well-defined
      .select(when(col("n_docs") > 0,
          col("sum_dl").cast("double") / col("n_docs"))
          .otherwise(lit(1.0)).as("__avgdl"),
        col("n_docs").as("__n"))
    val tf = readPostings(spark, path, idCol, state)
      .filter(col("term").isin(queryTerms: _*)) // pushed to the scan
      .select(col(idCol), col("dl").as("__dl"), col("term").as("__t"),
        col("tf").as("__tf"))
    score(tf, idCol, stats, topK)
  }

  /** The shared BM25 scoring tail: per-term df (broadcast), the
    * Robertson idf × saturated-tf product, decimal-exact per-doc sum,
    * floor-quantization, TakeOrderedAndProject. Both the corpus-scan
    * and the at-rest path end here, so their results are bit-identical
    * by construction.
    */
  private def score(tf: DataFrame, idCol: String, stats: DataFrame,
                    topK: Int): DataFrame = {
    val dfq = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
    val idf = (col("__n").cast("double") - col("__df").cast("double") + lit(0.5)) /
      (col("__df").cast("double") + lit(0.5))
    val tfc = (col("__tf").cast("double") * lit(2.2)) /
      (col("__tf").cast("double") +
        lit(1.2) * (lit(1.0) - lit(0.75) +
          lit(0.75) * col("__dl").cast("double") / col("__avgdl")))
    // See the class doc on the floor(sum·10⁶ + ½) quantization: decimal
    // downscale rounding is not engine-portable (Spark half-up, DuckDB
    // truncates), so the re-quantization is spelled in exact arithmetic.
    tf.join(broadcast(dfq), "__t").crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"),
        (floor(sum((idf * tfc).cast(DecimalType(38, 14))) * lit(1000000) +
          lit(0.5).cast(DecimalType(38, 14))).cast("double") /
          lit(1000000.0)).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(topK)
      .select(col(idCol), col("n_terms"), col("score"))
  }

  /** RATIO-IDF BM25 ranked retrieval for a literal query: top-k docs by
    *
    *   score(d) = Σ_{t ∈ q ∩ d}  idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * with the LOG-FREE Robertson idf `(N−df+0.5)/(df+0.5)` (object doc).
    * NOTE — a deliberate, named deviation from textbook BM25: the ratio
    * idf is only rank-equivalent to the `ln` form per single term; in
    * MULTI-term queries a rare term (df≈1) weighs ~N rather than ln(N),
    * so rare terms dominate more than a reference BM25 implementation's
    * ranking would. Chosen for bit-portable IEEE arithmetic (libm `ln`
    * drifts in the last ulp across engines); callers needing textbook
    * parity should wrap the idf factor in `ln` themselves. `k1 = 1.2`,
    * `b = 0.75` (the standard constants). Output: (id, n_terms, score)
    * for the k best documents, score-desc / id-asc.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], topK: Int): DataFrame = {
    val base = docs.select(col(idCol), words(col(textCol)).as("__ws"))
    // corpus stats as a 1-row relation (kept in-plan): exact integer sum
    // so avgdl is ONE double division, bit-identical in any engine
    val stats = base.agg(
      (sum(size(col("__ws"))).cast("double") / count(lit(1))).as("__avgdl"),
      count(lit(1)).as("__n"))
    // tf is tiny (<= |matching docs|·|query| rows) and feeds BOTH the df
    // dimension and the scoring join — cached so the df aggregate does
    // not recompute it from a second full corpus scan
    val tf = graft.core.Caches.track(base
      .select(col(idCol), size(col("__ws")).as("__dl"),
        explode(col("__ws")).as("__t"))
      .filter(col("__t").isin(queryTerms: _*)) // prune in the scan stage
      .groupBy(col(idCol), col("__dl"), col("__t"))
      .agg(count(lit(1)).as("__tf")))
    score(tf, idCol, stats, topK)
  }

  /** RM3-style pseudo-relevance-feedback query expansion — the missing
    * middle of the retrieval stack (between one-shot [[bm25]] and the
    * [[rrfFuse]]/[[mmrRerank]] post-processors): retrieve a feedback
    * set for the original query, mine it for expansion terms, re-rank
    * with the expanded query at half weight (Lavrenko & Croft 2001's
    * relevance model, λ-interpolated à la RM3).
    *
    * Deterministic engine discipline (named deviations from the
    * textbook model, which is a smoothed LM with runtime logs):
    * expansion-term weight is `Σ_{d ∈ FB} floor(scale·tf/dl)` — RM1's
    * uniform-feedback tf/dl evidence as ONE integer division per
    * (term, doc), so candidate scoring is exact integer arithmetic
    * with a (weight desc, term asc) total order; a CORPUS df gate
    * `2·df ≤ N` excludes stopwords from candidacy (the role smoothing
    * plays in the textbook model, expressed as the invertedIndex
    * df-cap discipline — an idf MULTIPLIER was measured to overweight
    * feedback-unique hapaxes instead); the rescore reuses [[bm25]]'s
    * quantized ratio-idf scoring with the expansion contribution at
    * λ = 1/2 (`score = score_orig + 0.5·score_exp`, two IEEE ops on
    * already-quantized doubles).
    *
    * Scale shape: feedback retrieval is the bm25 plan (scan-stage term
    * prune, TakeOrderedAndProject); candidate mining explodes ONLY the
    * ≤fbDocs feedback docs (broadcast semi-join); corpus df for
    * candidates is one scan pruned by a broadcast candidate-term
    * semi-join; the expansion list is a ≤fbTerms driver collect (the
    * section-regex compile pattern); the rescore is one more pruned
    * tf pass. Nothing corpus-sized ever shuffles unpruned.
    */
  def rm3Expand(docs: DataFrame, idCol: String, textCol: String,
                queryTerms: Seq[String], fbDocs: Int = 10,
                fbTerms: Int = 5,
                expWeightScale: Long = 1000000000000L,
                topK: Int = 15): DataFrame = {
    val base = graft.core.Caches.track(
      docs.select(col(idCol), words(col(textCol)).as("__ws")))
    // stage 1: feedback set
    val fb = bm25(docs, idCol, textCol, queryTerms, fbDocs)
      .select(col(idCol))
    val cand = base.join(broadcast(fb), Seq(idCol), "left_semi")
      .select(col(idCol), size(col("__ws")).as("__dl"),
        explode(col("__ws")).as("__t"))
      .filter(!col("__t").isin(queryTerms: _*))
      .groupBy(col(idCol), col("__dl"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    val candTerms = graft.core.Caches.track(
      cand.select(col("__t")).distinct())
    val dfCorpus = base
      .select(col(idCol), explode(array_distinct(col("__ws"))).as("__t"))
      .join(broadcast(candTerms), Seq("__t"), "left_semi")
      .groupBy(col("__t")).agg(count(lit(1)).as("__dfc"))
    val nDocs = base.count()
    val expTerms = cand.join(broadcast(dfCorpus), Seq("__t"))
      .filter(col("__dfc") * 2 <= nDocs)
      .withColumn("__w", expr(s"(${expWeightScale}L * __tf) div __dl"))
      .groupBy(col("__t")).agg(sum(col("__w")).as("__w2"))
      .orderBy(col("__w2").desc, col("__t").asc).limit(fbTerms)
      .collect().map(_.getString(0)).toSeq
    // stage 2: rescore original ∪ expansion, λ = 1/2 on the expansion
    val allTerms = queryTerms ++ expTerms
    val stats = base.agg(
      (sum(size(col("__ws"))).cast("double") / count(lit(1)))
        .as("__avgdl"),
      count(lit(1)).as("__n"))
    val tf = graft.core.Caches.track(base
      .select(col(idCol), size(col("__ws")).as("__dl"),
        explode(col("__ws")).as("__t"))
      .filter(col("__t").isin(allTerms: _*))
      .groupBy(col(idCol), col("__dl"), col("__t"))
      .agg(count(lit(1)).as("__tf")))
    val dfq = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
    val idf = (col("__n").cast("double") - col("__df").cast("double") +
      lit(0.5)) / (col("__df").cast("double") + lit(0.5))
    val tfc = (col("__tf").cast("double") * lit(2.2)) /
      (col("__tf").cast("double") +
        lit(1.2) * (lit(1.0) - lit(0.75) +
          lit(0.75) * col("__dl").cast("double") / col("__avgdl")))
    val dec = DecimalType(38, 14)
    def qsum(cond: Column) =
      floor(coalesce(sum(when(cond, (idf * tfc).cast(dec))),
        lit(0).cast(dec)) * lit(1000000) +
        lit(0.5).cast(dec)).cast("double") / lit(1000000.0)
    val expCond =
      if (expTerms.isEmpty) lit(false) else col("__t").isin(expTerms: _*)
    tf.join(broadcast(dfq), "__t").crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"),
        qsum(col("__t").isin(queryTerms: _*)).as("score_orig"),
        qsum(expCond).as("score_exp"))
      .withColumn("score", col("score_orig") + lit(0.5) * col("score_exp"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Attach 1-based ranks to an ALREADY top-k-bounded result: rank by
    * `(scoreCol desc, idCol asc)` — the total order every ranked query in
    * this library emits. The single-partition window is deliberate and
    * safe ONLY because the input is ≤ k rows (a TakeOrderedAndProject
    * output); never call this on a corpus-sized relation — rank the
    * bounded top-k, not the corpus.
    */
  def rankBounded(topk: DataFrame, idCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    topk.withColumn("rank",
      row_number().over(Window.partitionBy(lit(1))
        .orderBy(col(scoreCol).desc, col(idCol).asc)).cast("long"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two ranked lists —
    * the standard hybrid-retrieval combiner (sparse BM25 + dense ANN, the
    * RAG-curation primitive): each list contributes `1/(rrfK + rank)` and
    * a document's fused score is the sum over the lists that retrieved
    * it. Rank-based fusion needs no score calibration between the
    * modalities, which is exactly why production systems prefer it to
    * score interpolation.
    *
    * Inputs are (id, rank) relations with rank 1..k (see [[rankBounded]]).
    * Output: (id, rank_a, rank_b, rrf_score) for the fused top-k,
    * score-desc / id-asc; an id absent from one list simply contributes a
    * single addend (outer-join semantics) and carries a NULL rank for
    * that side.
    *
    * Plan shape at 100 TB: the expensive work is the two retrievals,
    * each already a bounded top-k produced by one corpus/index scan; the
    * fusion itself joins two ≤k-row relations — driver-trivial at any
    * corpus size. Score portability: each addend is ONE double division
    * on integer inputs and the fused score is ONE double add of ≤2
    * addends, spelled identically in the oracle — no accumulation-order
    * ambiguity exists for a two-term sum.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
              rrfK: Int = 60, topK: Int = 10): DataFrame = {
    val ra = a.select(col(idCol), col("rank").as("rank_a"))
    val rb = b.select(col(idCol), col("rank").as("rank_b"))
    val addend = (r: Column) =>
      coalesce(lit(1.0) / (lit(rrfK).cast("double") + r.cast("double")), lit(0.0))
    ra.join(rb, Seq(idCol), "full_outer")
      .select(col(idCol), col("rank_a"), col("rank_b"),
        (addend(col("rank_a")) + addend(col("rank_b"))).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998) of
    * a BOUNDED retrieval shortlist: greedily select items maximizing
    * `λ·relevance − (1−λ)·max cosine to the already-selected set` — the
    * diversity pass a RAG stack runs over its fused shortlist so five
    * near-identical chunks don't crowd out the second topic. Ties break
    * to the lower id; the first pick has no diversity subtrahend
    * (max over the empty set contributes 0).
    *
    * Plan shape: the expensive work already happened (the shortlist is
    * a ≤k-row fusion output); this computes the k×k pairwise exact-
    * decimal cosine matrix in one bounded crossJoin and runs the greedy
    * DRIVER-side over the collected matrix — k² doubles, the
    * [[graft.ops.Similarity]] bounded-collect convention (nothing here
    * scales with the corpus). Candidates without a vector (retrieved by
    * the sparse side only) carry similarity 0 — they never crowd
    * anything and nothing crowds them.
    *
    * Determinism/portability: relevance scores arrive engine-exact
    * (the RRF contract), pair cosines are exact-decimal dots over
    * 1e-30-floored norms, and each MMR score is two multiplies and one
    * subtract on those — bit-identical in any engine unrolling the
    * same greedy (the oracle's unrolled CTE chain). `lambda` defaults
    * to 0.5 (exact in binary).
    *
    * Output: (rank, id, relCol, mmr_score), rank 1..k in selection
    * order. `idCol` must be LongType (every fixture id is).
    */
  def mmrRerank(candidates: DataFrame, idCol: String, relCol: String,
                vectors: DataFrame, vecIdCol: String, vecCol: String,
                k: Int, lambda: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = candidates.sparkSession
    val cand = graft.core.Caches.track(
      candidates.select(col(idCol), col(relCol).cast("double")))
    val withVec = cand.join(
      vectors.select(col(vecIdCol).as(idCol), col(vecCol).as("__vec")),
      Seq(idCol), "left")
    val a = withVec.select(col(idCol).as("__ida"), col("__vec").as("__va"))
    val b = withVec.select(col(idCol).as("__idb"), col("__vec").as("__vb"))
    val nrm = (c: Column) => greatest(Dedup.normExact(c), lit(1e-30))
    val sims: Map[(Long, Long), Double] = a.crossJoin(b)
      .select(col("__ida"), col("__idb"),
        when(col("__va").isNull || col("__vb").isNull, lit(0.0))
          .otherwise(Dedup.dotExact(col("__va"), col("__vb")) /
            (nrm(col("__va")) * nrm(col("__vb")))).as("__sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val rels: Seq[(Long, Double)] = cand.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Double, Double)]()
    val remaining = scala.collection.mutable.LinkedHashMap(rels: _*)
    while (selected.size < math.min(k, rels.size)) {
      val best = remaining.map { case (id, rel) =>
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.iterator.map(s => sims((id, s._1))).max
        (id, rel, lambda * rel - (1 - lambda) * maxSim)
      }.minBy { case (id, _, mmr) => (-mmr, id) }
      selected += best
      remaining -= best._1
    }
    val out = selected.zipWithIndex.map { case ((id, rel, mmr), i) =>
      org.apache.spark.sql.Row((i + 1).toLong, id, rel, mmr)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, 1),
      StructType(Seq(
        StructField("rank", LongType, nullable = false),
        StructField(idCol, LongType, nullable = false),
        StructField(relCol, DoubleType, nullable = false),
        StructField("mmr_score", DoubleType, nullable = false))))
  }

  /** Offline retrieval-quality evaluation — nDCG@k and MRR@k of the
    * [[bm25]] ranking against a graded relevance label (here: how many
    * DISTINCT query terms the document contains, 0..|query| — the
    * deterministic stand-in for editorial judgments; swap in a labeled
    * relation at the same (id, rel) seam for real evals):
    *
    *   DCG@k  = Σ_{i≤k} rel_i / log2(i+1),  nDCG = DCG / IDCG,
    *   MRR@k  = 1 / (first rank with rel > 0), 0 when none.
    *
    * Exactness: the per-rank discount weights are DRIVER-COMPUTED
    * literal doubles embedded in both engines' plans (Double.toString
    * round-trips, so SQL parses the identical double — no runtime
    * libm log2 anywhere), gains are integer·literal products, and both
    * DCG folds run in RANK ORDER (`aggregate` over the rank-sorted
    * collected list ≡ SQL list_reduce) — bit-identical across engines.
    *
    * Plan: the retrieval is the expensive part (one bm25 pass); the
    * relevance scan is one narrow projection; everything after runs on
    * ≤ k-row bounded relations (TakeOrdered ideal list, single tiny
    * windows — the [[rankBounded]] contract).
    *
    * @return one row: (k, dcg, idcg, ndcg, mrr)
    */
  def ndcgMrrAtK(docs: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], k: Int = 10,
                 retrieveK: Int = 15): DataFrame = {
    require(k >= 1 && retrieveK >= k, "need retrieveK >= k >= 1")
    val weights = (1 to k).map(i =>
      1.0 / (math.log(i + 1.0) / math.log(2.0)))
    def foldGains(df: DataFrame): Column =
      coalesce(aggregate(
        array_sort(collect_list(struct(col("rank"), col("__gain")))),
        lit(0.0), (acc, x) => acc + x.getField("__gain")), lit(0.0))
    val rels = graft.core.Caches.track(
      docs.select(col(idCol),
        size(array_intersect(array_distinct(words(col(textCol))),
          typedlit(queryTerms))).cast("long").as("rel")))
    val gainOfRank = element_at(typedlit(weights), col("rank").cast("int"))
    val ranked = rankBounded(
        bm25(docs, idCol, textCol, queryTerms, retrieveK), idCol, "score")
      .filter(col("rank") <= k)
      .join(rels, Seq(idCol))
      .withColumn("__gain", col("rel").cast("double") * gainOfRank)
    val ideal = rankBounded(
        rels.orderBy(col("rel").desc, col(idCol).asc).limit(k)
          .withColumnRenamed("rel", "score"), idCol, "score")
      .withColumn("__gain", col("score").cast("double") * gainOfRank)
    val dcg = ranked.agg(foldGains(ranked).as("dcg"),
      min(when(col("rel") > 0, col("rank"))).as("__fr"))
    val idcg = ideal.agg(foldGains(ideal).as("idcg"))
    dcg.crossJoin(broadcast(idcg))
      .select(lit(k.toLong).as("k"), col("dcg"), col("idcg"),
        // NULL when nothing is relevant anywhere (idcg = 0): the
        // metric is undefined, and ANSI mode would error on /0
        when(col("idcg") =!= 0.0, col("dcg") / col("idcg"))
          .as("ndcg"),
        coalesce(lit(1.0) / col("__fr"), lit(0.0)).as("mrr"))
  }
}
