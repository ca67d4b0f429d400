package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.WsTokens

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star extensions, BASELINE.json): language ID, quality scoring,
  * token counting, fingerprinting.
  *
  * Everything is pure `Column` expression chains — codegen'd, zero UDFs,
  * zero shuffles; these run inside the scan's project stage at any scale.
  * All arithmetic is integer-count based (lengths, replace-diffs) so the
  * DuckDB oracle reproduces results bit-exactly.
  */
object TextAnalysis {

  /** Occurrences of a literal marker in a string: (len - len(remove)) / |m|.
    * Integer counts, double division — deterministic across engines.
    */
  def occurrences(c: Column, marker: String): Column =
    (length(c) - length(expr_replace(c, marker))) / lit(marker.length)

  private def expr_replace(c: Column, search: String): Column =
    call_function("replace", c, lit(search), lit(""))

  /** Language-ID by marker-word frequency (n-gram heuristic): score each
    * candidate language by its marker occurrences, argmax with a fixed
    * tie-break order. Markers are configurable; defaults target the
    * fixture vocabulary so the operator exercises real signal there.
    */
  val defaultMarkers: Seq[(String, String)] = Seq(
    "en" -> " the ", "es" -> " data ", "fr" -> " join ",
    "de" -> " merge ", "zh" -> " spark ")

  /** Argmax over the score columns, ties resolved by marker order. */
  def predictLang(text: Column, markers: Seq[(String, String)] = defaultMarkers): Column = {
    val scores = markers.map { case (lang, m) => lang -> occurrences(text, m) }
    scores.init.foldRight(lit(scores.last._1)) { case ((lang, s), rest) =>
      val others = scores.filter(_._1 != lang).map(_._2)
      when(others.foldLeft(lit(true))((acc, o) => acc && s >= o), lang).otherwise(rest)
    }
  }

  /** Whitespace token count (0 for blank text), as a long. */
  def tokenCountWs(text: Column): Column = WsTokens.count(text).cast("long")

  /** BPE-ish token count: runs of letters, runs of digits, and individual
    * punctuation marks each count as one token — the standard cheap
    * approximation of subword tokenizer cost for data budgeting.
    */
  def tokenCountRegex(text: Column): Column =
    size(call_function("regexp_extract_all", text,
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Punctuation ratio over total characters (0 for empty). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "[A-Za-z0-9\\s]", "")) / length(text))

  /** Stopword ratio: marker-word hits per whitespace token. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = Seq(" the ", " a ")): Column = {
    val hits = stopwords.map(occurrences(text, _)).reduce(_ + _)
    when(tokenCountWs(text) === 0, lit(0.0)).otherwise(hits / tokenCountWs(text))
  }

  /** Composite document-quality score in [0,1]: length saturation,
    * low punctuation, healthy stopword density — the shape used to filter
    * web-scraped corpora before training.
    *
    * Runs as the fused [[graft.functions.QualityScoreExpr]] (one codegen'd
    * pass, input referenced ONCE — critical when the input is itself a
    * computed column like curation_pipeline's redacted text, which
    * predicate pushdown would otherwise substitute into every one of the
    * ~14 references of [[qualityScoreColumnForm]]). Bit-identical to the
    * Column form the DuckDB oracles replay (QualityScoreSpec).
    */
  def qualityScore(text: Column): Column =
    graft.functions.QualityScore.quality(text)

  /** The original Column formulation of [[qualityScore]] — the shape the
    * DuckDB oracles were written against, kept as the bit-equality
    * witness the fused expression is spec-pinned to.
    */
  private[graft] def qualityScoreColumnForm(text: Column): Column =
    least(length(text) / lit(500.0), lit(1.0)) * lit(0.4) +
      (lit(1.0) - punctRatio(text)) * lit(0.3) +
      least(stopwordRatio(text) * lit(4.0), lit(1.0)) * lit(0.3)

  /** Duplicate-word fraction (Gopher-style repetition signal):
    * 1 − distinct(words)/words. A high value marks keyword-stuffed or
    * looping machine text; web-corpus filters drop past ~0.3-0.6.
    * Runs as a pure expression over the scan — no explode, no shuffle.
    */
  def dupWordFrac(text: Column): Column = {
    val w = split(trim(text), "\\s+")
    when(trim(text) === "", lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(w)).cast("double") / size(w))
  }

  /** Most-frequent-adjacent-bigram fraction (the second Gopher repetition
    * rule): occurrences of the commonest word pair × 2 / word count.
    * Counting stays INSIDE one row (no explode — an explode + per-doc
    * groupBy would shuffle every bigram of the corpus at 100 TB to
    * compute a per-row statistic): the bigram array is sorted and the
    * max multiplicity read off as the longest run of equal neighbors —
    * O(n log n) per row, so a heavy-tailed 300k-word outlier document
    * costs milliseconds instead of the 10¹⁰ comparisons a per-element
    * self-count would (one such row would stall its whole stage).
    */
  def topBigramFrac(text: Column): Column = {
    val w = split(trim(text), "\\s+")
    // zip the words with their own 1-shifted slice: every array argument
    // is evaluated ONCE per row. The transform/element_at(w, i) form
    // would re-run the split per ELEMENT (higher-order lambdas get no
    // subexpression elimination) — O(n²) in characters per row. The last
    // zip slot pairs with null (concat → null) and is filtered out.
    val bigrams = filter(
      zip_with(w, slice(w, lit(2), greatest(size(w) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b)),
      x => x.isNotNull)
    // longest equal run over the sorted array == max bigram count; the ""
    // seed can never equal a real bigram (bigrams contain a space around
    // non-empty words), so the first element always starts a run of 1
    val maxCnt = aggregate(
      array_sort(bigrams),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("mx")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("mx"), run).as("mx"))
      },
      acc => acc.getField("mx"))
    when(tokenCountWs(text) < 2, lit(0.0))
      .otherwise(maxCnt.cast("double") * 2 / size(w))
  }

  /** Top-n-gram character fraction (Gopher repetition rules #3-#5,
    * Rae et al. 2021 A1.1: thresholds 0.20 / 0.18 / 0.16 for n = 2/3/4):
    * characters covered by the MOST FREQUENT word n-gram —
    * count × chars(gram) — over the normalized character count.
    * Counting stays inside the row (no explode, no shuffle); ties on
    * count break to the LONGER gram (the conservative filter reading),
    * then to the code-point-smaller — a total order, so both engines
    * agree. Computed by the codegen'd
    * [[graft.functions.GopherRepetitionFracs]] expression (the array-HOF
    * fold this replaces ran interpreted — 231 s/pass at sf0.01; see the
    * expression's scaladoc for the exactness contract). When reading
    * several n's, prefer [[graft.functions.GopherRepetition.allFracs]]
    * staged once.
    */
  def topNgramCharFrac(text: Column, n: Int): Column =
    graft.functions.GopherRepetition.fracs(text, Seq(n), Nil)
      .getField(s"top$n")

  /** Duplicate-n-gram character fraction (Gopher rules #6-#11: thresholds
    * 0.15 … 0.10 for n = 5 … 10): characters covered by n-grams occurring
    * MORE THAN ONCE — Σ over duplicated grams of count × chars(gram) —
    * over the normalized character count. Overlapping occurrences each
    * count their full width (the documented, engine-portable
    * approximation of the paper's character-marking; both engines
    * compute the identical value, so the DuckDB gate holds), and the
    * ratio is capped at 1.0 so heavy overlap still reads as a fraction.
    * Same codegen'd expression as [[topNgramCharFrac]].
    */
  def dupNgramCharFrac(text: Column, n: Int): Column =
    graft.functions.GopherRepetition.fracs(text, Nil, Seq(n))
      .getField(s"dup$n")

  /** The COMPLETE Gopher repetition keep decision (Rae et al. 2021 A1.1,
    * all eleven rules — [[WebFilters.gopherKeep]] carries the
    * quality-signal half; line/paragraph duplicate rules live in
    * [[WebFilters]]): top 2/3/4-gram char fractions under 0.20/0.18/0.16
    * and duplicate 5…10-gram char fractions under 0.15…0.10. ONE
    * codegen'd expression evaluation (all nine fractions in a single
    * pass over the word array); compose with the other suites by AND.
    */
  def gopherRepetitionKeep(text: Column): Column = {
    val fr = graft.functions.GopherRepetition.allFracs(text)
    val top = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16).map { case (n, t) =>
      fr.getField(s"top$n") < t }
    val dup = Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11,
      10 -> 0.10).map { case (n, t) => fr.getField(s"dup$n") < t }
    (top ++ dup).reduce(_ && _)
  }

  /** Tokenizer-vocabulary construction with corpus coverage — the "how
    * big must the vocab be" curve every tokenizer-training run starts
    * from: whitespace-token frequencies, ranked, with the cumulative
    * fraction of all token OCCURRENCES a top-`topK` vocabulary covers.
    *
    * Plan shape at scale: one map-side-combined word-count aggregation
    * (the only corpus-sized shuffle), then `orderBy(freq).limit(topK)` —
    * Spark plans TakeOrderedAndProject, never a global sort — and the
    * running-coverage window runs over the `topK`-row survivor set only
    * (a single tiny partition by construction, not a global window over
    * the vocabulary). Ties broken by term so ranks are total.
    *
    * Output: (rank, term, freq, coverage), `topK` rows.
    */
  def vocabCoverage(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("freq"))
    val total = counts.agg(sum("freq").as("__total"))
    val top = counts.orderBy(col("freq").desc, col("term").asc).limit(topK)
    val w = Window.orderBy(col("freq").desc, col("term").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("term").asc)).cast("long"))
      .withColumn("coverage",
        sum("freq").over(w).cast("double") / col("__total"))
      .select("rank", "term", "freq", "coverage")
      .orderBy("rank")
  }

  /** TextRank (Mihalcea & Tarau 2004) adapted to word-window units —
    * representative-passage selection: rank each document's
    * fixed-size word windows by weighted-PageRank centrality on the
    * window-overlap graph and keep the best one. The extractive-
    * summarization primitive a pretraining pipeline uses to pick the
    * most representative span per document (for dataset cards, dedup
    * exemplars, retrieval snippets); window units rather than
    * sentences because unit choice is orthogonal to the algorithm and
    * windows are deterministic on unpunctuated text.
    *
    * Semantics, fully deterministic / engine-exact:
    *  - windows: non-overlapping `windowWords`-word slices, 1-based
    *    index, last window keeps the shorter tail;
    *  - edge weight between two windows of the SAME document: the
    *    INTEGER count of shared distinct words (Mihalcea's weighted
    *    PageRank admits any positive weights; the log-length
    *    normalization divides by zero on one-word units, and any
    *    real-valued weight makes the per-node weight total W_src a
    *    ROUNDED decimal sum — dividing by it manufactures doubles
    *    that land exactly on the 15th-decimal rounding boundary,
    *    where Spark's shortest-repr double→decimal cast and DuckDB's
    *    exact-binary cast disagree. An integer weight keeps W_src an
    *    EXACT integer, the same discipline that makes pageRank's
    *    r/deg engine-exact), zero-overlap pairs are not edges;
    *  - `iters` rounds of weighted PageRank: r' = (1-d)/n_doc +
    *    d * Σ_src r_src·w/W_src, incoming mass staged through
    *    DECIMAL(38,14) so sums are order-independent; isolated
    *    windows get the teleport term only;
    *  - winner per doc: max rank, ties to the smallest window index.
    *
    * Exactness contract: the SELECTION (winner index, window text,
    * counts) is engine-exact and oracle-gated; the raw score is not —
    * re-staging each round's mass at scale 14 grid-aligns the next
    * round's inputs, so the score's last decimal sits exactly on the
    * double→decimal rounding boundary where Spark (shortest-repr
    * cast) and DuckDB (exact-binary cast) legitimately differ by one
    * ulp at scale 14. Consumers comparing scores should quantize to
    * ≤12 decimals.
    *
    * Scale shape: the pair stage self-joins windows ON doc_id — work
    * is Σ_doc (windows_doc)², bounded by the document-length contract
    * (windows ∝ doc length / windowWords), never corpus-quadratic;
    * every exchange is doc-keyed, per-round contributions partial-
    * aggregate before the exchange, and [[graft.core.Iterate]]
    * materializes each round.
    */
  def textRankWindows(docs: DataFrame, idCol: String, textCol: String,
                      windowWords: Int = 8, damping: Double = 0.85,
                      iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(windowWords >= 1 && iters >= 1, "need windows and rounds")
    val dec = DecimalType(38, 14)
    val w = split(trim(col(textCol)), "\\s+")
    val chunkStructs = transform(
      sequence(lit(1), ceil(size(w) / lit(windowWords.toDouble)).cast("int")),
      i => struct(i.as("widx"),
        slice(w, (i - lit(1)) * windowWords + lit(1), lit(windowWords))
          .as("ws")))
    val ch = graft.core.Caches.track(
      docs.select(col(idCol).as("doc_id"), explode(chunkStructs).as("c"))
        .select(col("doc_id"), col("c.widx").cast("long").as("widx"),
          array_distinct(col("c.ws")).as("cs"),
          array_join(col("c.ws"), " ").as("window_text")))
    val nDf = ch.groupBy(col("doc_id")).agg(count(lit(1)).as("nw"))
    val a = ch.select(col("doc_id"), col("widx").as("src"),
      col("cs").as("csa"))
    val b = ch.select(col("doc_id"), col("widx").as("dst"),
      col("cs").as("csb"))
    val pe = graft.core.Caches.track(
      a.join(b, Seq("doc_id"))
        .filter(col("src") =!= col("dst"))
        .withColumn("ov", size(array_intersect(col("csa"), col("csb"))))
        .filter(col("ov") > 0)
        .select(col("doc_id"), col("src"), col("dst"),
          col("ov").cast("long").as("wt")))
    // weight total per source window: an EXACT integer sum — never a
    // rounded decimal (see the weight-choice note above)
    val wj = pe.groupBy(col("doc_id"), col("src"))
      .agg(sum(col("wt")).as("wj"))
    val peW = graft.core.Caches.track(pe.join(wj, Seq("doc_id", "src")))
    val nodes = ch.select(col("doc_id"), col("widx")).join(nDf, "doc_id")
    val init = nodes.select(col("doc_id"), col("widx"),
      (lit(1.0) / col("nw")).as("r"))
    val r = graft.core.Iterate.rounds(init, iters) { (_, r) =>
      val contrib = peW
        .join(r.select(col("doc_id"), col("widx").as("src"), col("r")),
          Seq("doc_id", "src"))
        .groupBy(col("doc_id"), col("dst").as("widx"))
        .agg(sum((col("r") * col("wt") / col("wj")).cast(dec))
          .cast("double").as("sc"))
      nodes
        .join(contrib, Seq("doc_id", "widx"), "left")
        .select(col("doc_id"), col("widx"),
          (lit(damping) * coalesce(col("sc"), lit(0.0)) +
            (lit(1.0) - lit(damping)) / col("nw")).as("r"))
    }.state
    val pick = Window.partitionBy(col("doc_id"))
      .orderBy(col("r").desc, col("widx").asc)
    r.join(ch.select(col("doc_id"), col("widx"), col("window_text")),
        Seq("doc_id", "widx"))
      .join(nDf, "doc_id")
      .withColumn("__rn", row_number().over(pick))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("widx").as("best_widx"),
        col("nw").as("n_windows"), col("r").as("score"),
        col("window_text"))
      .orderBy(col("doc_id"))
  }

  /** WINNOWING fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): per sliding window of `w`
    * consecutive k-gram hashes, keep the minimum (ties to the leftmost
    * position), then dedupe — the LOCAL fingerprinting guarantee the
    * global min-hash ([[graft.queries]] ta_fingerprint's fp_robust)
    * cannot give: any shared substring of length ≥ w + k − 1 between
    * two documents yields at least one SHARED selected fingerprint, so
    * matching selected prints finds plagiarized/quoted SPANS, not just
    * near-identical documents. Density is 2/(w+1) of positions —
    * bounded index size per document.
    *
    * One codegen'd expression per row (shingle MD5s → monotonic-deque
    * sliding argmin → adjacent dedupe), one explode of the selected set
    * to the output relation: embarrassingly parallel, no shuffle before
    * the output sort. Tie-break and windowing are deterministic, so a
    * SQL window oracle replays the exact selected set. Texts shorter
    * than w k-grams winnow their single partial window; the empty text
    * fingerprints md5("") at pos 1.
    *
    * @return one row per selected fingerprint: (id, pos, fp) with pos
    *         the 1-based k-gram position of the selected hash.
    */
  def winnow(docs: DataFrame, idCol: String, textCol: String,
             k: Int = 16, w: Int = 8): DataFrame = {
    require(k >= 2 && w >= 1, s"need k >= 2, w >= 1 (got k=$k, w=$w)")
    val clean = TextOps.cleanMsg(col(textCol))
    // Selection happens INSIDE the row: one codegen'd expression
    // ([[graft.functions.WinnowSelect]]) computes the positional k-gram
    // MD5s and each sliding window's (fp, pos) argmin with a monotonic
    // deque — O(len) per document, bounded state. Only the selected
    // ~2/(w+1) density is exploded; the output sort is the sole
    // exchange. (The pre-round-10 relational form — posexplode one row
    // per position, doc-partitioned min-of-struct window, distinct —
    // shuffled a corpus-sized positional hash relation: 22.8 s at
    // sf0.1 and a non-starter at 100 TB.) Blank text follows the
    // charShingles convention: one ""-k-gram → md5("") at pos 1.
    val sel = graft.functions.WinnowSelect(
      org.apache.spark.sql.graft.Shims.expression(clean), k, w)
    docs
      .select(col(idCol),
        explode(org.apache.spark.sql.graft.Shims.column(sel)).as("__s"))
      .select(col(idCol), col("__s.pos").as("pos"), col("__s.fp").as("fp"))
      .orderBy(col(idCol), col("pos"))
  }

  /** Pairwise VOCABULARY overlap between corpus slices (sources,
    * languages, snapshots): per unordered slice pair the distinct-token
    * intersection, union, and Jaccard — the "how much does source A's
    * vocabulary repeat source B's" diagnostic that guides mixture and
    * dedup decisions across corpora.
    *
    * Scale shape: one (slice, token) DISTINCT is the only corpus-sized
    * pass; the token self-join fans out at most |slices|² pairs PER
    * TOKEN (slices are bounded — sources, languages), so candidate
    * volume is ≤ tokens × slices², never tokens². Sizes are a
    * slices-sized relation joined back broadcast; Jaccard is one
    * integer→double division per pair.
    */
  def vocabOverlap(docs: DataFrame, sliceCol: String, textCol: String)
      : DataFrame = {
    val st = graft.core.Caches.track(docs
      .select(col(sliceCol).cast("string").as("__s"),
        explode(split(trim(col(textCol)), "\\s+")).as("__t"))
      .filter(col("__t") =!= "" && col("__s").isNotNull)
      .distinct())
    val sizes = st.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
    val inter = st.as("a").join(st.as("b"), Seq("__t"))
      .filter(col("a.__s") < col("b.__s"))
      .groupBy(col("a.__s").as("slice_a"), col("b.__s").as("slice_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.withColumnRenamed("__s", "slice_a")
        .withColumnRenamed("__n", "n_a")), Seq("slice_a"))
      .join(broadcast(sizes.withColumnRenamed("__s", "slice_b")
        .withColumnRenamed("__n", "n_b")), Seq("slice_b"))
      .select(col("slice_a"), col("slice_b"), col("n_a"), col("n_b"),
        col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))
      .orderBy(col("slice_a"), col("slice_b"))
  }

  /** Flesch-style readability report per slice — the quality-scoring
    * family's classic: words, sentence terminators, and a vowel-group
    * syllable proxy (clamped below by the word count, so an
    * all-consonant token still counts one syllable in aggregate) are
    * exact integer counts from three `regexp_extract_all` lengths per
    * document; per slice they sum (map-side combined) and the Flesch
    * reading-ease score 206.835 − 1.015·(W/S) − 84.6·(Y/W) plus the
    * words-per-sentence ratio are the only doubles — fixed expression
    * trees over exact longs, identical IEEE op sequences both engines.
    * Zero-sentence docs floor at one sentence (a document is at least
    * one utterance). Pure scan-stage expressions + one keyed aggregate.
    */
  def readability(docs: DataFrame, textCol: String,
                  sliceCol: String): DataFrame = {
    val w = size(regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"),
      lit(0)))
    val s = greatest(size(regexp_extract_all(col(textCol), lit("[.!?]+"),
      lit(0))), lit(1))
    val vg = size(regexp_extract_all(lower(col(textCol)), lit("[aeiouy]+"),
      lit(0)))
    val g = docs
      .select(col(sliceCol), w.as("__w"), s.as("__s"),
        greatest(vg, w).as("__y"))
      .groupBy(col(sliceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__w").cast("long")).as("n_words"),
        sum(col("__s").cast("long")).as("n_sentences"),
        sum(col("__y").cast("long")).as("n_syllables"))
    val wps = col("n_words").cast("double") / col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") / col("n_words").cast("double")
    g.select(col(sliceCol), col("n_docs"), col("n_words"),
        col("n_sentences"), col("n_syllables"),
        wps.as("words_per_sentence"),
        (lit(206.835) - lit(1.015) * wps - lit(84.6) * spw).as("flesch"))
      .orderBy(col(sliceCol))
  }

  /** Harman's S-STEMMER (1991) for one lowercase token — the three
    * suffix rules ("ies"→"y" unless e/a-preceded; drop the "s" of "es"
    * unless a/e/o-preceded; drop a final "s" unless "us"/"ss") as a
    * single CASE chain of suffix tests and substrings: conflates
    * regular English plurals with zero per-row regex work and an exact
    * cross-engine restatement (LIKE + substring in both).
    */
  def sStem(w: Column): Column = {
    def drop(n: Int): Column = w.substr(lit(1), length(w) - n)
    // each suffix CLASS stops the cascade: a guarded word stays
    // unchanged rather than falling through to a weaker rule ("does"
    // must not reach the bare-s rule and lose its s)
    when(w.endsWith("ies"),
        when(w.endsWith("eies") || w.endsWith("aies"), w)
          .otherwise(concat(drop(3), lit("y"))))
      .when(w.endsWith("es"),
        when(w.endsWith("aes") || w.endsWith("ees") || w.endsWith("oes"), w)
          .otherwise(drop(1)))
      .when(w.endsWith("s"),
        when(w.endsWith("us") || w.endsWith("ss"), w).otherwise(drop(1)))
      .otherwise(w)
  }

  /** Top-k STEM families: tokenize (lowercase alpha runs), [[sStem]]
    * each token, count tokens and distinct surface forms per stem,
    * top-k by (count, stem). One tokenize+stem scan stage, one
    * map-side-combined (stem, form) aggregate, a stem-keyed rollup,
    * TakeOrderedAndProject for the top-k — never a global sort. The
    * vocabulary-normalization view of the corpus that [[vocabCoverage]]
    * reads unstemmed.
    */
  def topStems(docs: DataFrame, textCol: String, topK: Int = 30)
      : DataFrame = {
    val toks = docs
      .select(explode(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+"), lit(0))).as("__t"))
    toks
      .groupBy(sStem(col("__t")).as("stem"), col("__t"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("stem"))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_forms"))
      .orderBy(col("n_tokens").desc, col("stem"))
      .limit(topK)
  }
}
