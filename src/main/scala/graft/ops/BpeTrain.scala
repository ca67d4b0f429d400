package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training — learn the top-N byte-pair merges
  * from a corpus, the way every LLM tokenizer is built (Sennrich et al.
  * 2016; the HF `tokenizers` trainer). (North-star extension surface;
  * the reference has no tokenizer layer — its truncation op at
  * /root/reference/diagnostic_group_pipeline_with_api.py:220-224 CONSUMES
  * a trained vocab, this produces one.)
  *
  * The algorithm the scale argument rests on: BPE training never needs
  * the corpus — it needs the WORD-FREQUENCY TABLE. The corpus is read
  * exactly once (one explode + one map-side-combined groupBy); the
  * resulting table is VOCAB-bounded (10⁵–10⁷ rows at any corpus size,
  * vs 10¹² documents), so it is collected to the driver — the same
  * bounded-collect seam as the k-means centroid fetch
  * (Similarity.kmeansCentroids) — and merge learning runs DRIVER-LOCAL
  * as classic fast BPE: pair counts are maintained incrementally (a
  * merge touches only the words that contain the winning pair, found
  * through a pair→words index), so learning a realistic tokenizer
  * budget (10⁴–10⁵ merges) costs zero Spark jobs beyond the single
  * corpus pass. The previous formulation ran one Spark job (plus a
  * 1-row collect) PER merge — flat in data size but serialized in the
  * merge budget: tens of thousands of sequential job barriers at a real
  * vocabulary size, pure scheduling overhead no cluster can hide.
  *
  * Words are represented as their symbol sequence joined by single
  * spaces and wrapped in boundary spaces (`"cat"` → `" c a t "`), so a
  * merge is `replace(" l r " → " lr ")` — a plain codegen'd string op
  * available, with identical leftmost-non-overlapping semantics, in
  * every engine (verified Spark ↔ DuckDB). The replace is applied twice
  * because consecutive pattern occurrences share their boundary space
  * and a single pass skips every second one; two passes merge the same
  * pair set greedy BPE would except on runs of 5+ repeats of one
  * symbol, where the merge COUNT matches but positions may differ —
  * documented approximation, deterministic and engine-portable.
  *
  * Ties on pair count break lexicographically (left, then right), so
  * the learned merge sequence is a pure function of the corpus.
  *
  * Output: one row per learned merge, in order —
  * (step, merge_left, merge_right, pair_count). Stops early if the
  * vocabulary runs out of pairs.
  */
object BpeTrain {

  /** Hard cap on the collected word-frequency table. The "vocab-bounded"
    * scale argument (object doc) holds for curated corpora, but raw web
    * text at 100 TB has 10⁹+ distinct whitespace tokens (typos, ids,
    * urls) — an UNBOUNDED collect would be corpus-shaped after all. The
    * cap is enforced as a distributed top-M by frequency (TakeOrdered —
    * per-partition bounded heaps, never a full sort), tie-broken by
    * word so the kept set is deterministic. BPE merge learning is
    * frequency-greedy, so dropping the sub-head tail changes nothing
    * until nMerges is far beyond any real tokenizer budget.
    */
  val MaxVocab: Int = 1 << 20

  def learnMerges(docs: DataFrame, textCol: String, nMerges: Int,
                  maxVocab: Int = MaxVocab): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    learnMergesLocal(collectWordFreq(docs, textCol, maxVocab), nMerges)
      .toDF("step", "merge_left", "merge_right", "pair_count")
  }

  /** The ONE distributed pass: corpus → word-frequency table, capped at
    * the `maxVocab` most frequent words (see [[MaxVocab]]) so the collect
    * is bounded by CODE, not by an assumption about the corpus.
    */
  private[ops] def collectWordFreq(docs: DataFrame, textCol: String,
                                   maxVocab: Int): Array[(String, Long)] =
    docs
      .select(explode(
        filter(split(trim(col(textCol)), "\\s+"), w => w =!= "")).as("__word"))
      .groupBy("__word").agg(count(lit(1)).as("__freq"))
      .orderBy(col("__freq").desc, col("__word"))
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  /** Code-point order — what both Spark's UTF8String (byte-wise UTF-8)
    * and DuckDB's binary collation sort strings by. Java's default
    * String ordering is UTF-16 code-UNIT order, which disagrees above
    * the BMP; ties in the merge argmax must break identically to the
    * engines' `ORDER BY l, r`.
    */
  private def cpCompare(a: String, b: String): Int = {
    val la = a.length; val lb = b.length
    var i = 0
    while (i < la && i < lb) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(i)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
    }
    Integer.compare(la, lb)
  }

  private def pairsOf(sym: String): Array[(String, String)] = {
    val parts = sym.trim.split(" ")
    if (parts.length < 2) Array.empty
    else Array.tabulate(parts.length - 1)(i => (parts(i), parts(i + 1)))
  }

  /** Classic fast BPE on the collected word-frequency table: pair counts
    * and a pair→word-index are maintained incrementally, so each merge
    * re-derives pairs only for the words that actually contained the
    * winning pair. Semantics are bit-identical to the previous
    * distributed loop (and the DuckDB oracle's unrolled CTEs): the same
    * double-`replace` merge application, the same (count desc, left asc,
    * right asc) tie-break in code-point order.
    */
  private[graft] def learnMergesLocal(
      wordFreq: Array[(String, Long)],
      nMerges: Int): Seq[(Long, String, String, Long)] = {
    import scala.collection.mutable
    val syms = wordFreq.map { case (w, _) =>
      " " + w.split("").mkString(" ") + " " }
    val freqs = wordFreq.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val occurs = mutable.HashMap.empty[(String, String), mutable.BitSet]
    var i = 0
    while (i < syms.length) {
      val f = freqs(i)
      pairsOf(syms(i)).foreach { p =>
        counts.update(p, counts.getOrElse(p, 0L) + f)
        occurs.getOrElseUpdate(p, mutable.BitSet.empty) += i
      }
      i += 1
    }
    val merges = mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var step = 1
    while (step <= nMerges && counts.nonEmpty) {
      var bl: String = null; var br: String = null; var bc = Long.MinValue
      counts.foreach { case ((l, r), c) =>
        if (c > bc || (c == bc && {
          val cl = cpCompare(l, bl)
          cl < 0 || (cl == 0 && cpCompare(r, br) < 0)
        })) { bl = l; br = r; bc = c }
      }
      merges += ((step.toLong, bl, br, bc))
      val pat = " " + bl + " " + br + " "
      val rep = " " + bl + br + " "
      // snapshot: the loop mutates this pair's occurrence set
      val affected = occurs.getOrElse((bl, br), mutable.BitSet.empty).toArray
      affected.foreach { idx =>
        val old = syms(idx)
        val neu = old.replace(pat, rep).replace(pat, rep)
        val f = freqs(idx)
        val oldPairs = pairsOf(old)
        oldPairs.foreach { p =>
          val c2 = counts.getOrElse(p, 0L) - f
          if (c2 <= 0L) counts.remove(p) else counts.update(p, c2)
        }
        oldPairs.distinct.foreach(p => occurs.get(p).foreach(_ -= idx))
        pairsOf(neu).foreach { p =>
          counts.update(p, counts.getOrElse(p, 0L) + f)
          occurs.getOrElseUpdate(p, mutable.BitSet.empty) += idx
        }
        syms(idx) = neu
      }
      occurs.remove((bl, br))
      step += 1
    }
    merges.toSeq
  }

  /** Merges per materialized batch: bounds lineage and expression depth. */
  private val RetrackEvery = 16

  private def symInit(word: Column): Column =
    concat(lit(" "), concat_ws(" ", split(word, "")), lit(" "))

  private def applyMerges(sym: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(sym) { case (s, (l, r)) =>
      val pat = lit(" " + l + " " + r + " ")
      val rep = lit(" " + l + r + " ")
      replace(replace(s, pat, rep), pat, rep)
    }

  /** `words` plus `__sym`: each `__word`'s symbol string after `merges`
    * in training order. Up to `chainLimit` merges apply as one literal
    * replace chain — one narrow codegen'd projection, no shuffle, no UDF.
    * A REAL merge table (10⁴-10⁵ entries) would nest 2·|merges| replace
    * calls in one expression (quadratic analysis, codegen stack
    * overflow), so a larger one applies in `RetrackEvery`-sized batches,
    * one [[graft.core.Iterate]] round each, to a vocab-bounded `words`.
    */
  private def withSymbols(words: DataFrame, merges: Seq[(String, String)],
                          chainLimit: Int): DataFrame =
    if (merges.size <= chainLimit)
      words.withColumn("__sym", applyMerges(symInit(col("__word")), merges))
    else {
      val batches = merges.grouped(RetrackEvery).toVector
      graft.core.Iterate.rounds(
          words.withColumn("__sym", symInit(col("__word"))), batches.size) {
        (round, dict) =>
          dict.withColumn("__sym", applyMerges(col("__sym"), batches(round - 1)))
      }.state
    }

  /** The learned vocabulary: every symbol left in the word table after
    * applying a merge sequence, with corpus-frequency-weighted counts —
    * the piece inventory a tokenizer ships (chars that never merged +
    * every merged piece). Runs on the vocab-bounded word-frequency
    * table: one corpus scan, then merges applied exactly as in
    * [[encode]].
    */
  def vocab(docs: DataFrame, textCol: String,
            merges: Seq[(String, String)],
            chainLimit: Int = 64): DataFrame = {
    val words = docs
      .select(explode(
        filter(split(trim(col(textCol)), "\\s+"), w => w =!= "")).as("__word"))
      .groupBy("__word").agg(count(lit(1)).as("__freq"))
    withSymbols(words, merges, chainLimit)
      .select(explode(split(trim(col("__sym")), " ")).as("piece"),
        col("__freq"))
      .groupBy("piece").agg(sum("__freq").as("n"))
  }

  /** Re-tokenize text with a learned merge table, applying the merges in
    * training order to each word's symbol string and emitting the
    * resulting pieces. Up to `chainLimit` merges the chain applies to
    * the exploded corpus directly; above it, to the distinct words
    * (vocab-bounded at any corpus size), and the pieces map joins back
    * onto the exploded corpus — the standard build-once-apply-everywhere
    * tokenizer shape.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[(String, String)],
             chainLimit: Int = 64): DataFrame = {
    val toks = docs
      .select(col(idCol), posexplode(
        filter(split(trim(col(textCol)), "\\s+"), w => w =!= ""))
        .as(Seq("word_pos", "__word")))
      .select(col(idCol), col("word_pos").cast("long").as("word_pos"),
        col("__word"))
    val syms =
      if (merges.size <= chainLimit) withSymbols(toks, merges, chainLimit)
      else toks.join(
        withSymbols(toks.select(col("__word")).distinct(), merges, chainLimit),
        "__word")
    syms.select(col(idCol), col("word_pos"),
      split(trim(col("__sym")), " ").as("pieces"))
  }
}
