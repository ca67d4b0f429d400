package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Normalize
import graft.ops.{BpeTrain, Curation, Dedup, Frequent, Graphs, LmSignals, Retrieval, Similarity,
  TextAnalysis, TextOps, Truncate, UnigramLm, UrlOps, WebFilters}
import graft.queries.OracleCompat.{QueryTerms, bm25Sql, cleanSql, dotSql, emailSql, numSql, piiSql,
  ssnSql, urlCtes}
import graft.queries.QueryFixtures.{piiText, scratch, syntheticUrl}

/** Text analysis (`ta_*`): tokenization and n-gram statistics, quality
  * signals, language and boilerplate filters, chunking, tokenizer training
  * (BPE, WordPiece, unigram LM), and lexical retrieval over inverted
  * indexes (BM25, phrase and proximity search) with their maintenance
  * lifecycle. Every oracle restates the operator in DuckDB SQL over the
  * `documents` fixture.
  */
object TaQueries {

  /** DuckDB restatement of Dedup.charShingles. */
  private def shingleSql(c: String, k: Int): String =
    s"list_distinct(list_transform(generate_series(1, greatest(length($c)-${k - 1},1)), i -> substr($c, i, $k)))"

  /** The WordPiece fixture vocab as a DuckDB VALUES literal — generated
    * from the same Scala constant the Spark expression uses, so vocab and
    * oracle can never drift.
    */
  private val wordPieceVocabValues: String =
    graft.functions.WordPiece.FixtureVocab.map(p => s"('$p')").mkString(", ")

  private val BpeSteps = 8

  /** One training, three consumers (`ta_bpe` / `ta_bpe_vocab` /
    * `ta_bpe_encode`): the learned merge table is memoized per dataset
    * dir. Training is a pure function of the corpus (deterministic
    * tie-breaks, see [[BpeTrain]]), so every consumer observes the
    * identical sequence whether it trained or hit the cache — the
    * composed-pipeline shape.
    */
  private val mergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, String, String, Long)]]()

  private def learnedMerges(s: org.apache.spark.sql.SparkSession,
                            d: String): Seq[(Long, String, String, Long)] =
    mergeCache.computeIfAbsent(d, _ =>
      BpeTrain.learnMerges(Tables.documents(s, d), "text", BpeSteps)
        .orderBy("step").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq)

  /** Unrolled BPE training as DuckDB CTEs (the unrolled-Lloyd idiom of
    * kmeansCtesOn): w0 = the word-frequency table with each
    * word as its boundary-wrapped symbol string; per step i, `pi` counts
    * adjacent symbol pairs weighted by word frequency, `bi` takes the
    * argmax (count desc, pair asc — the trainer's tie-break), and `wi`
    * applies the winning merge with the same double `replace` the Spark
    * side uses.
    */
  private def bpeCtes(n: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """w0 AS (
        |  SELECT word,
        |    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS sym,
        |    count(*) AS freq
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        |        FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |""".stripMargin)
    for (i <- 1 to n) {
      sb.append(
        s"""p$i AS (
           |  SELECT ws[j] AS l, ws[j+1] AS r, sum(freq) AS cnt FROM (
           |    SELECT ws, freq, unnest(generate_series(1, len(ws) - 1)) AS j
           |    FROM (SELECT string_split(trim(sym), ' ') AS ws, freq FROM w${i - 1}))
           |  GROUP BY 1, 2),
           |b$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
           |w$i AS (
           |  SELECT word,
           |    replace(replace(sym, ' ' || b.l || ' ' || b.r || ' ',
           |                         ' ' || b.l || b.r || ' '),
           |            ' ' || b.l || ' ' || b.r || ' ',
           |            ' ' || b.l || b.r || ' ') AS sym,
           |    freq
           |  FROM w${i - 1} CROSS JOIN b$i b),
           |""".stripMargin)
    }
    sb.toString
  }

  /** Deterministic line structure: 8-word lines, '.' every 3rd line. */
  private def chunkLines(text: Column): Column = {
    val ws = filter(split(trim(text), "\\s+"), w => w =!= "")
    val n = size(ws)
    when(n === 0, lit("")).otherwise(
      array_join(
        transform(sequence(lit(0), (ceil(n / lit(8.0)) - 1).cast("int")),
          i => concat(
            array_join(slice(ws, i * lit(8) + 1, lit(8)), " "),
            when(i % 3 === 0, lit(".")).otherwise(lit("")))),
        "\n"))
  }

  /** The identical reshaping in DuckDB (1-based inclusive list slice),
    * plus the word/line splits both rule families read.
    */
  private val LinedCtes =
    s"""w AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |                x -> x <> '') AS ws
       |  FROM documents),
       |lined AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ws) = 0 THEN '' ELSE
       |      array_to_string(
       |        list_transform(
       |          generate_series(0, CAST(ceil(len(ws) / 8.0) AS INT) - 1),
       |          i -> array_to_string(ws[i*8+1 : i*8+8], ' ') ||
       |               CASE WHEN i % 3 = 0 THEN '.' ELSE '' END),
       |        chr(10)) END AS t
       |  FROM w),
       |split AS (
       |  SELECT doc_id, t,
       |    list_filter(string_split_regex(trim(t), '\\s+'),
       |                x -> x <> '') AS tws,
       |    list_filter(list_transform(string_split(t, chr(10)),
       |                               l -> trim(l)),
       |                l -> l <> '') AS ls
       |  FROM lined)""".stripMargin

  /** The Gopher signal oracle, shared by ta_gopher (fused codegen
    * expression) and ta_gopher_colform (WebFilters Column formulation):
    * one contract, two engines-worth of proof that both match it.
    */
  private def gopherOracle: Option[String] = gopherOracle("")

  /** `where` filters the FINAL per-doc signal rows (signals are a pure
    * per-document projection, so filtering output == filtering input).
    */
  private def gopherOracle(where: String): Option[String] =
    Some(
        s"""WITH $LinedCtes,
           |sig AS (
           |  SELECT doc_id,
           |    len(tws)::BIGINT AS n_words,
           |    CASE WHEN len(tws) = 0 THEN 0.0::DOUBLE ELSE
           |      CAST(list_aggregate(list_transform(tws, x -> length(x)),
           |                          'sum') AS DOUBLE) / len(tws) END
           |      AS mean_word_len,
           |    CASE WHEN len(tws) = 0 THEN 0.0::DOUBLE ELSE
           |      ((length(t) - length(replace(t, '#', ''))) +
           |       (length(t) - length(replace(t, '...', ''))) / 3)
           |        / len(tws) END AS symbol_ratio,
           |    CASE WHEN len(tws) = 0 THEN 0.0::DOUBLE ELSE
           |      CAST(len(list_filter(tws,
           |        x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
           |        / len(tws) END AS alpha_frac,
           |    (CASE WHEN list_contains(tws, 'the')  THEN 1 ELSE 0 END +
           |     CASE WHEN list_contains(tws, 'be')   THEN 1 ELSE 0 END +
           |     CASE WHEN list_contains(tws, 'to')   THEN 1 ELSE 0 END +
           |     CASE WHEN list_contains(tws, 'of')   THEN 1 ELSE 0 END +
           |     CASE WHEN list_contains(tws, 'and')  THEN 1 ELSE 0 END +
           |     CASE WHEN list_contains(tws, 'that') THEN 1 ELSE 0 END +
           |     CASE WHEN list_contains(tws, 'have') THEN 1 ELSE 0 END +
           |     CASE WHEN list_contains(tws, 'with') THEN 1 ELSE 0 END
           |    )::BIGINT AS stop_hits,
           |    CASE WHEN len(ls) = 0 THEN 0.0::DOUBLE ELSE
           |      CAST(len(list_filter(ls, l -> l LIKE '%...')) AS DOUBLE)
           |        / len(ls) END AS ellipsis_frac,
           |    CASE WHEN len(ls) = 0 THEN 0.0::DOUBLE ELSE
           |      CAST(len(list_filter(ls,
           |        l -> regexp_matches(l, '^[-*•]'))) AS DOUBLE)
           |        / len(ls) END AS bullet_frac,
           |    CASE WHEN len(ls) = 0 THEN 0.0::DOUBLE ELSE
           |      1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls) END
           |      AS dup_line_frac,
           |    CASE WHEN len(ls) = 0 OR
           |              list_aggregate(list_transform(ls,
           |                l -> length(l)), 'sum') = 0
           |      THEN 0.0::DOUBLE ELSE
           |      CAST(list_aggregate(list_transform(ls, l -> length(l)),
           |             'sum') -
           |           list_aggregate(list_transform(list_distinct(ls),
           |             l -> length(l)), 'sum') AS DOUBLE) /
           |      list_aggregate(list_transform(ls, l -> length(l)), 'sum')
           |      END AS dup_char_frac
           |  FROM split)
           |SELECT *,
           |  (n_words BETWEEN 50 AND 100000 AND
           |   mean_word_len BETWEEN 3.0 AND 10.0 AND
           |   symbol_ratio < 0.1 AND bullet_frac < 0.9 AND
           |   ellipsis_frac < 0.3 AND alpha_frac > 0.8 AND
           |   stop_hits >= 2 AND dup_line_frac < 0.3 AND
           |   dup_char_frac < 0.2) AS keep,
           |  (n_words BETWEEN 50 AND 100000 AND
           |   mean_word_len BETWEEN 3.0 AND 10.0 AND
           |   symbol_ratio < 0.1 AND bullet_frac < 0.9 AND
           |   ellipsis_frac < 0.3 AND alpha_frac > 0.8 AND
           |   dup_line_frac < 0.3 AND
           |   dup_char_frac < 0.2) AS keep_no_stop
           |FROM sig $where
           |ORDER BY doc_id""".stripMargin)

  /** 8-word lines, '.' every 3rd line, a blank line after every 2nd
    * line — deterministic paragraph structure from flat fixture text.
    */
  private def chunkParas(text: Column): Column = {
    val ws = filter(split(trim(text), "\\s+"), w => w =!= "")
    val n = size(ws)
    val lines = transform(sequence(lit(0), (ceil(n / lit(8.0)) - 1).cast("int")),
      i => concat(
        array_join(slice(ws, i * lit(8) + 1, lit(8)), " "),
        when(i % 3 === 0, lit(".")).otherwise(lit(""))))
    val nl = size(lines)
    when(n === 0, lit("")).otherwise(
      array_join(
        transform(sequence(lit(0), (ceil(nl / lit(2.0)) - 1).cast("int")),
          j => array_join(slice(lines, j * lit(2) + 1, lit(2)), "\n")),
        "\n\n"))
  }

  /** The identical reshaping in DuckDB, plus the word array and
    * normalized char count every n-gram rule divides by.
    */
  private val ParaCtes =
    s"""w0 AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |                x -> x <> '') AS ws
       |  FROM documents),
       |ln AS (
       |  SELECT doc_id, ws,
       |    list_transform(
       |      generate_series(0, CAST(ceil(len(ws) / 8.0) AS INT) - 1),
       |      i -> array_to_string(ws[i*8+1 : i*8+8], ' ') ||
       |           CASE WHEN i % 3 = 0 THEN '.' ELSE '' END) AS lines
       |  FROM w0),
       |lined AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ws) = 0 THEN '' ELSE
       |      array_to_string(
       |        list_transform(
       |          generate_series(0, CAST(ceil(len(lines) / 2.0) AS INT) - 1),
       |          j -> array_to_string(lines[j*2+1 : j*2+2], chr(10))),
       |        chr(10) || chr(10)) END AS t
       |  FROM ln),
       |wl AS (
       |  SELECT doc_id, t,
       |    list_filter(string_split_regex(trim(t), '\\s+'),
       |                x -> x <> '') AS w
       |  FROM lined),
       |nc AS (
       |  SELECT doc_id,
       |    length(array_to_string(w, ' '))::BIGINT AS chars
       |  FROM wl)""".stripMargin

  /** Per-n CTEs: the n-gram relation, and either the top-gram coverage
    * (count × chars of the best gram under the count-desc, len-desc,
    * gram-asc total order) or the duplicated-gram coverage.
    */
  private def gramCte(n: Int): String =
    s"""g$n AS (
       |  SELECT doc_id, array_to_string(w[i : i+${n - 1}], ' ') AS g
       |  FROM (SELECT doc_id, w,
       |          unnest(generate_series(1, len(w) - ${n - 1})) AS i
       |        FROM wl WHERE len(w) >= $n))""".stripMargin

  private def topCte(n: Int): String =
    s"""t$n AS (
       |  SELECT doc_id, c * length(g) AS cov FROM (
       |    SELECT doc_id, g, count(*) AS c,
       |      row_number() OVER (PARTITION BY doc_id
       |        ORDER BY count(*) DESC, length(g) DESC, g ASC) AS rn
       |    FROM g$n GROUP BY doc_id, g)
       |  WHERE rn = 1)""".stripMargin

  private def dupCte(n: Int): String =
    s"""d$n AS (
       |  SELECT doc_id, sum(c * length(g))::BIGINT AS cov FROM (
       |    SELECT doc_id, g, count(*) AS c
       |    FROM g$n GROUP BY doc_id, g HAVING count(*) >= 2)
       |  GROUP BY doc_id)""".stripMargin

  /** The ta_bm25 scoring pipeline as CTEs ending in a ranked `sparse`
    * relation (doc_id, rank_a) — the oracle restatement of
    * `rankBounded(bm25(...))`. Kept textually beside the dense CTEs so
    * the fused oracle can never drift from the two gated halves.
    */
  private def sparseCtes(topK: Int): String =
    s"""base AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |                x -> x <> '') AS ws
       |  FROM documents),
       |stats AS (
       |  SELECT cast(sum(len(ws)) AS DOUBLE) / count(*) AS avgdl,
       |         count(*) AS n
       |  FROM base),
       |tf AS (
       |  SELECT doc_id, dl, t, count(*) AS tf FROM (
       |    SELECT doc_id, len(ws) AS dl, unnest(ws) AS t FROM base)
       |  WHERE t IN ('dup', 'spark', 'vector')
       |  GROUP BY 1, 2, 3),
       |dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
       |bm AS (
       |  SELECT doc_id,
       |    cast(floor(sum(cast(
       |      ((cast(n AS DOUBLE) - cast(df AS DOUBLE) + 0.5) /
       |       (cast(df AS DOUBLE) + 0.5)) *
       |      ((cast(tf AS DOUBLE) * 2.2) /
       |       (cast(tf AS DOUBLE) +
       |        1.2 * (1.0 - 0.75 + 0.75 * cast(dl AS DOUBLE) / avgdl)))
       |      AS DECIMAL(38,14))) * 1000000
       |      + cast(0.5 AS DECIMAL(38,14))) AS DOUBLE)
       |      / 1000000.0 AS score
       |  FROM tf JOIN dfq USING (t) CROSS JOIN stats
       |  GROUP BY doc_id
       |  ORDER BY score DESC, doc_id
       |  LIMIT $topK),
       |sparse AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a
       |  FROM bm)""".stripMargin

  /** The sim_topk pipeline as CTEs ending in a ranked `dense` relation
    * (vec_id, rank_b) — the oracle restatement of
    * `rankBounded(bruteForceTopK(...))`.
    */
  private def denseCtes(topK: Int): String =
    s"""q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |nq AS (
       |  SELECT sqrt(${dotSql("qe", "qe")}) AS nrm
       |  FROM q, generate_series(1, 64) g(i)),
       |ne AS (
       |  SELECT vec_id, sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings, generate_series(1, 64) g(i) GROUP BY vec_id),
       |dots AS (
       |  SELECT e.vec_id, ${dotSql("e.embedding", "q.qe")} AS dot
       |  FROM embeddings e, q, generate_series(1, 64) g(i)
       |  GROUP BY e.vec_id),
       |dtop AS (
       |  SELECT d.vec_id, d.dot / (ne.nrm * nq.nrm) AS cos_sim
       |  FROM dots d JOIN ne ON d.vec_id = ne.vec_id, nq
       |  ORDER BY cos_sim DESC, d.vec_id
       |  LIMIT $topK),
       |dense AS (
       |  SELECT vec_id,
       |    row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank_b
       |  FROM dtop)""".stripMargin

  /** One training, two consumers (ta_unigram / ta_unigram_encode): the
    * unigram vocabulary is memoized per dataset dir — training is a
    * pure function of the corpus (pinned tie-breaks, see
    * [[UnigramLm]]), so both observe the identical vocab.
    */
  private val unigramCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long)], Long)]()

  private def trainedUnigram(s: org.apache.spark.sql.SparkSession,
                             d: String): (Seq[(String, Long)], Long) =
    unigramCache.computeIfAbsent(d, _ =>
      UnigramLm.train(Tables.documents(s, d), "text"))

  /** The [[UnigramLm]] training loop UNROLLED as DuckDB CTEs (the
    * bpeCtes idiom): wf = the length-capped word table; sub/v0/t0 the
    * substring seed (top-60 + all chars); per EM iteration i, a
    * recursive CTE seg{i} enumerates EVERY segmentation of every word
    * over vocab v{i-1} with the score multiplied in path order —
    * bit-identical IEEE doubles to the Spark side's Viterbi, because
    * probability is one division of exact integers and products
    * associate identically — best{i} takes rank 1 by (score DESC,
    * pieces ASC), use{i} recounts, v{i} prunes to top-40 + chars.
    */
  private val unigramCtes: String =
    """wfall AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
      |        FROM documents)
      |  WHERE word <> '' GROUP BY word),
      |wf AS (SELECT * FROM wfall WHERE length(word) <= 12),
      |sub AS (
      |  SELECT substring(word, st.st, ls.l) AS piece,
      |         CAST(sum(freq) AS BIGINT) AS cnt
      |  FROM wf,
      |       (SELECT unnest(generate_series(1, 4)) AS l) ls,
      |       (SELECT unnest(generate_series(1, 12)) AS st) st
      |  WHERE st.st + ls.l - 1 <= length(word)
      |  GROUP BY 1),
      |seedtop AS (
      |  SELECT piece, cnt FROM sub
      |  QUALIFY row_number() OVER (ORDER BY cnt DESC, piece) <= 60),
      |v0 AS (
      |  SELECT piece, cnt FROM seedtop
      |  UNION ALL
      |  SELECT piece, cnt FROM sub
      |  WHERE length(piece) = 1
      |    AND piece NOT IN (SELECT piece FROM seedtop)),
      |t0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v0),
      |seg1 AS (
      |  SELECT word, freq, 0 AS pos, CAST(1.0 AS DOUBLE) AS score,
      |         '' AS pieces
      |  FROM wf
      |  UNION ALL
      |  SELECT s.word, s.freq, s.pos + length(v.piece),
      |         s.score * (v.cnt / t.total),
      |         CASE WHEN s.pieces = '' THEN v.piece
      |              ELSE s.pieces || ' ' || v.piece END
      |  FROM seg1 s, v0 v, t0 t
      |  WHERE v.piece = substring(s.word, s.pos + 1, length(v.piece))),
      |best1 AS (
      |  SELECT word, freq, pieces FROM seg1
      |  WHERE pos = length(word)
      |  QUALIFY row_number() OVER (PARTITION BY word
      |                             ORDER BY score DESC, pieces) = 1),
      |use1 AS (
      |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(string_split(pieces, ' ')) AS piece, freq
      |    FROM best1)
      |  GROUP BY 1),
      |top1 AS (
      |  SELECT piece, cnt FROM use1
      |  QUALIFY row_number() OVER (ORDER BY cnt DESC, piece) <= 40),
      |v1 AS (
      |  SELECT piece, cnt FROM top1
      |  UNION ALL
      |  SELECT v.piece, CAST(coalesce(u.cnt, 0) AS BIGINT) AS cnt
      |  FROM v0 v LEFT JOIN use1 u USING (piece)
      |  WHERE length(v.piece) = 1
      |    AND v.piece NOT IN (SELECT piece FROM top1)),
      |t1 AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v1),
      |seg2 AS (
      |  SELECT word, freq, 0 AS pos, CAST(1.0 AS DOUBLE) AS score,
      |         '' AS pieces
      |  FROM wf
      |  UNION ALL
      |  SELECT s.word, s.freq, s.pos + length(v.piece),
      |         s.score * (v.cnt / t.total),
      |         CASE WHEN s.pieces = '' THEN v.piece
      |              ELSE s.pieces || ' ' || v.piece END
      |  FROM seg2 s, v1 v, t1 t
      |  WHERE v.piece = substring(s.word, s.pos + 1, length(v.piece))),
      |best2 AS (
      |  SELECT word, freq, pieces FROM seg2
      |  WHERE pos = length(word)
      |  QUALIFY row_number() OVER (PARTITION BY word
      |                             ORDER BY score DESC, pieces) = 1),
      |use2 AS (
      |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(string_split(pieces, ' ')) AS piece, freq
      |    FROM best2)
      |  GROUP BY 1),
      |top2 AS (
      |  SELECT piece, cnt FROM use2
      |  QUALIFY row_number() OVER (ORDER BY cnt DESC, piece) <= 40),
      |v2 AS (
      |  SELECT piece, cnt FROM top2
      |  UNION ALL
      |  SELECT v.piece, CAST(coalesce(u.cnt, 0) AS BIGINT) AS cnt
      |  FROM v1 v LEFT JOIN use2 u USING (piece)
      |  WHERE length(v.piece) = 1
      |    AND v.piece NOT IN (SELECT piece FROM top2)),
      |t2 AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v2)""".stripMargin

  private val CmsTopK = 20
  private val NdcgK = 10

  /** The per-rank DCG discounts 1/log2(i+1) as driver-computed literal
    * doubles — Double.toString round-trips, so the SQL parses the
    * identical values and no engine runs a runtime log2.
    */
  private val DcgWeights: Seq[Double] =
    (1 to NdcgK).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  val all: Seq[Q] = Seq(

    Q("ta_langid",
      "Language-ID by marker-word frequency, reported as a (lang × " +
        "predicted) confusion matrix — pure expression argmax, one " +
        "aggregation.",
      (s, d) => Tables.documents(s, d)
        .select(col("lang"), TextAnalysis.predictLang(col("text")).as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang"),
      Some {
        val langs = TextAnalysis.defaultMarkers
        def score(m: String) =
          s"((length(text) - length(replace(text, '$m', ''))) / ${m.length}::DOUBLE)"
        val scoreDefs = langs.map { case (l, m) => s"${score(m)} AS s_$l" }.mkString(",\n    ")
        val pred = langs.init.foldRight(s"'${langs.last._1}'") { case ((l, _), rest) =>
          val conds = langs.filter(_._1 != l).map(o => s"s_$l >= s_${o._1}").mkString(" AND ")
          s"CASE WHEN $conds THEN '$l' ELSE $rest END"
        }
        s"""WITH scored AS (
           |  SELECT lang,
           |    $scoreDefs
           |  FROM documents)
           |SELECT lang, $pred AS pred_lang, count(*) AS n
           |FROM scored
           |GROUP BY 1, 2
           |ORDER BY lang, pred_lang""".stripMargin
      }),

    Q("ta_quality",
      "Per-document quality features (length, punctuation ratio, stopword " +
        "ratio) + composite score in [0,1] — the pre-training corpus " +
        "filter shape; zero-shuffle scan-stage expressions.",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        TextAnalysis.tokenCountWs(col("text")).as("n_tokens"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stop_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, text, length(text) AS n_chars,
             |    CASE WHEN trim(text) = '' THEN 0
             |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
             |    CASE WHEN length(text) = 0 THEN 0.0::DOUBLE
             |         ELSE length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) / length(text) END AS punct_ratio,
             |    ((length(text) - length(replace(text, ' the ', ''))) / 5::DOUBLE
             |      + (length(text) - length(replace(text, ' a ', ''))) / 3::DOUBLE) AS stop_hits
             |  FROM documents),
             |t2 AS (
             |  SELECT doc_id, n_chars, n_tokens, punct_ratio,
             |    CASE WHEN n_tokens = 0 THEN 0.0::DOUBLE ELSE stop_hits / n_tokens END AS stop_ratio
             |  FROM t)
             |SELECT doc_id, n_chars, n_tokens, punct_ratio, stop_ratio,
             |  least(n_chars / 500.0::DOUBLE, 1.0::DOUBLE) * 0.4::DOUBLE
             |    + (1.0::DOUBLE - punct_ratio) * 0.3::DOUBLE
             |    + least(stop_ratio * 4.0::DOUBLE, 1.0::DOUBLE) * 0.3::DOUBLE AS quality
             |FROM t2
             |ORDER BY doc_id""".stripMargin)),

    Q("ta_tokens",
      "Token counting two ways — whitespace and BPE-ish regex (letter " +
        "runs / digit runs / punctuation marks) — plus chars-per-token.",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).as("n_tokens_ws"),
        TextAnalysis.tokenCountRegex(col("text")).as("n_tokens_re"),
        (length(col("text")) / TextAnalysis.tokenCountWs(col("text")))
          .as("chars_per_token"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN trim(text) = '' THEN 0
             |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens_ws,
             |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens_re,
             |  length(text) / (CASE WHEN trim(text) = '' THEN 0
             |       ELSE len(string_split_regex(trim(text), '\s+')) END)::DOUBLE AS chars_per_token
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    Q("ta_fingerprint",
      "Document fingerprinting: md5 of normalized text (exact-dedup key) " +
        "+ min-shingle-hash (winnowing-style robust fingerprint that " +
        "survives small edits).",
      (s, d) => {
        val clean = TextOps.cleanMsg(col("text"))
        Tables.documents(s, d).select(
          col("doc_id"),
          md5(clean).as("fp_md5"),
          // fused codegen'd pass (graft.functions.MinShingleMd5) — the
          // array_min(transform(charShingles(..), md5)) Column form is
          // interpreted per element (18.2 s of the round-11 sf0.1
          // bench); MinShingleMd5Spec asserts bit-equality against it
          graft.functions.MinShingleMd5(clean, 16).as("fp_robust"))
          .orderBy("doc_id")
      },
      Some(s"""WITH c AS (SELECT doc_id, $cleanSql AS msg FROM documents)
              |SELECT doc_id, md5(msg) AS fp_md5,
              |       list_min(list_transform(${shingleSql("msg", 16)}, s -> md5(s))) AS fp_robust
              |FROM c
              |ORDER BY doc_id""".stripMargin)),

    Q("ta_tfidf",
      "Top-3 characteristic terms per document by a df-normalized " +
        "relevance score (tf·N/df — idf without the log so the score is " +
        "bit-portable across engines; per-doc ordering is what matters). " +
        "explode → (doc,term) tf agg → term df agg → score → " +
        "row_number window, ties broken by term.",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val words = docs.select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("term"))
        val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(dfreq, "term").crossJoin(nDocs)
          .withColumn("score",
            (col("tf") * col("n_docs")).cast("double") / col("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term").asc)
        scored.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select("doc_id", "rk", "term", "tf", "df", "score")
          .orderBy("doc_id", "rk")
      },
      Some("""WITH words AS (
             |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
             |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (
             |  SELECT doc_id, tf.term, tf.tf, dfreq.df,
             |         CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score
             |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
             |ranked AS (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY score DESC, term) AS rk
             |  FROM scored)
             |SELECT doc_id, rk, term, tf, df, score
             |FROM ranked WHERE rk <= 3
             |ORDER BY doc_id, rk""".stripMargin)),

    Q("ta_redact",
      "PII redaction over documents: email / SSN-shaped / long-number " +
        "patterns replaced in a fixed pass order, per-pattern match " +
        "counts taken against the original text. Pure codegen'd " +
        "regexp_replace chain — no UDF, no shuffle; runs inside the " +
        "scan's project stage at any scale.",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), piiText.as("t"))
        .select(col("doc_id"),
          Curation.redact(col("t")).as("redacted"),
          Curation.matchCount(col("t"), Curation.EmailRe).as("n_emails"),
          Curation.matchCount(col("t"), Curation.SsnRe).as("n_ssn"),
          Curation.matchCount(col("t"), Curation.LongNumberRe).as("n_ids"))
        .orderBy("doc_id"),
      Some(s"""WITH p AS (SELECT doc_id, $piiSql AS t FROM documents)
              |SELECT doc_id,
              |  regexp_replace(regexp_replace(regexp_replace(t,
              |    '$emailSql', '<EMAIL>', 'g'),
              |    '$ssnSql', '<SSN>', 'g'),
              |    '$numSql', '<ID>', 'g') AS redacted,
              |  len(regexp_extract_all(t, '$emailSql')) AS n_emails,
              |  len(regexp_extract_all(t, '$ssnSql')) AS n_ssn,
              |  len(regexp_extract_all(t, '$numSql')) AS n_ids
              |FROM p ORDER BY doc_id""".stripMargin)),

    Q("ta_pack",
      "Sequence packing (concat-and-chop): each source shard's documents " +
        "are assigned, in doc_id order, to fixed-256-token training " +
        "sequences via one per-shard window cumsum — never a global " +
        "order-by, so shards pack in parallel at any scale. Output is " +
        "one row per packed sequence.",
      (s, d) => Curation
        .packSequences(Tables.documents(s, d), "source", "doc_id", "text", 256)
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("seq_tokens"),
          min("doc_id").as("first_doc"))
        .orderBy("source", "seq_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |    CASE WHEN trim(text) = '' THEN 0
             |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
             |  FROM documents),
             |c AS (
             |  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |    ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_before
             |  FROM t)
             |SELECT source, CAST(floor(tok_before / 256) AS BIGINT) AS seq_id,
             |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
             |  min(doc_id) AS first_doc
             |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("ta_subword",
      "Subword tokenization with the pure-JVM greedy WordPiece expression " +
        "(codegen'd Catalyst Expression, fixture vocab): per-doc subword " +
        "count plus the first/last-12-piece T5 truncation branches. The " +
        "oracle replays the EXACT max-munch walk in SQL — a longest-" +
        "match-per-position table (vocab join + argmax, no recursion) " +
        "feeding a recursive walk that concatenates the chosen pieces — " +
        "so every `##` piece boundary is cross-checked in DuckDB.",
      (s, d) => Tables.documents(s, d).select(
          col("doc_id"),
          Truncate.subwordCount(col("text")).cast("long").as("n_subword"),
          Truncate.truncateSubword(col("text"), lit("gross_or_micro"), 12)
            .as("head_pieces"),
          Truncate.truncateSubword(col("text"), lit("entire report"), 12)
            .as("tail_pieces"))
        .orderBy("doc_id"),
      Some(
        s"""WITH RECURSIVE vocab(piece) AS (VALUES $wordPieceVocabValues),
           |vocab2 AS (
           |  SELECT CASE WHEN piece LIKE '##%' THEN substring(piece, 3)
           |              ELSE piece END AS body,
           |         piece LIKE '##%' AS is_cont
           |  FROM vocab),
           |docs AS (
           |  SELECT doc_id,
           |    trim(regexp_replace(lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')),
           |         '[^a-z]+', ' ', 'g')) AS t
           |  FROM documents),
           |w0 AS (SELECT doc_id, string_split(t, ' ') AS sp FROM docs WHERE t <> ''),
           |w1 AS (SELECT doc_id, unnest(generate_series(1, len(sp))) AS wi, sp FROM w0),
           |words AS (SELECT doc_id, wi, sp[wi] AS word FROM w1),
           |pos AS (
           |  SELECT doc_id, wi, word, unnest(generate_series(1, len(word))) AS p
           |  FROM words),
           |steps AS (
           |  SELECT po.doc_id, po.wi, po.p, max(len(v.body)) AS step
           |  FROM pos po JOIN vocab2 v
           |    ON substring(po.word, po.p, 1) = substring(v.body, 1, 1)
           |   AND (po.p = 1) = (NOT v.is_cont)
           |   AND substring(po.word, po.p, len(v.body)) = v.body
           |  GROUP BY 1, 2, 3),
           |walk AS (
           |  SELECT doc_id, wi, word, 1 AS p, 0 AS k, CAST('' AS VARCHAR) AS pieces
           |  FROM words
           |  UNION ALL
           |  SELECT w.doc_id, w.wi, w.word, w.p + s.step, w.k + 1,
           |    w.pieces || CASE WHEN w.p = 1 THEN '' ELSE ' ' END ||
           |      CASE WHEN w.p = 1 THEN substring(w.word, w.p, s.step)
           |           ELSE '##' || substring(w.word, w.p, s.step) END
           |  FROM walk w JOIN steps s
           |    ON s.doc_id = w.doc_id AND s.wi = w.wi AND s.p = w.p
           |  WHERE w.p <= len(w.word)),
           |done AS (SELECT doc_id, wi, k, pieces FROM walk WHERE p = len(word) + 1),
           |agg AS (
           |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_subword,
           |    string_agg(pieces, ' ' ORDER BY wi) AS allp
           |  FROM done GROUP BY doc_id),
           |sliced AS (
           |  SELECT doc_id, n_subword, string_split(allp, ' ') AS pl FROM agg)
           |SELECT d.doc_id,
           |  coalesce(s.n_subword, 0) AS n_subword,
           |  coalesce(CASE WHEN s.n_subword <= 12 THEN array_to_string(s.pl, ' ')
           |                ELSE array_to_string(list_slice(s.pl, 1, 12), ' ') END,
           |           '') AS head_pieces,
           |  coalesce(CASE WHEN s.n_subword <= 12 THEN array_to_string(s.pl, ' ')
           |                ELSE array_to_string(list_slice(s.pl, -12, -1), ' ') END,
           |           '') AS tail_pieces
           |FROM documents d LEFT JOIN sliced s USING (doc_id)
           |ORDER BY doc_id""".stripMargin)),

    Q("ta_repetition",
      "Gopher-style repetition quality signals: duplicate-word fraction " +
        "and most-frequent-adjacent-bigram fraction, both computed INSIDE " +
        "each row (pure expressions over the scan — no explode/shuffle to " +
        "derive a per-row statistic). The oracle recomputes both via " +
        "unnest + per-doc aggregation and must land on the identical " +
        "doubles.",
      (s, d) => Tables.documents(s, d).select(
          col("doc_id"),
          TextAnalysis.dupWordFrac(col("text")).as("dup_word_frac"),
          TextAnalysis.topBigramFrac(col("text")).as("top_bigram_frac"))
        .orderBy("doc_id"),
      Some(
        """WITH wl AS (
          |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
          |  FROM documents WHERE trim(text) <> ''),
          |st AS (SELECT doc_id, len(w) AS n, len(list_distinct(w)) AS nd FROM wl),
          |bg0 AS (
          |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
          |  FROM wl WHERE len(w) >= 2),
          |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS b FROM bg0),
          |bgm AS (
          |  SELECT doc_id, max(c) AS mc FROM (
          |    SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b)
          |  GROUP BY doc_id)
          |SELECT d.doc_id,
          |  coalesce(CAST(1 AS DOUBLE) - s.nd::DOUBLE / s.n,
          |           CAST(0 AS DOUBLE)) AS dup_word_frac,
          |  coalesce(CASE WHEN s.n >= 2 THEN m.mc::DOUBLE * 2 / s.n END,
          |           CAST(0 AS DOUBLE)) AS top_bigram_frac
          |FROM documents d
          |LEFT JOIN st s USING (doc_id) LEFT JOIN bgm m USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin)),

    Q("ta_chunk",
      "Overlapping token-window chunking (32-token windows, stride 24 — " +
        "the RAG/pretraining ingest chunker): windows built inside the " +
        "scan projection as one array per doc, exploded only at the " +
        "output; the final window pins to the document end so no suffix " +
        "is ever dropped. Oracle rebuilds every window with " +
        "list_slice + row_number.",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(Curation.chunkTokens(col("text"), size = 32, stride = 24))
            .as(Seq("p", "chunk_text")))
        .select(col("doc_id"), (col("p") + 1).cast("long").as("chunk_id"),
          col("chunk_text"))
        .orderBy("doc_id", "chunk_id"),
      Some(
        """WITH wl AS (
          |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
          |  FROM documents WHERE trim(text) <> ''),
          |starts AS (
          |  SELECT doc_id, w,
          |    unnest(list_sort(list_distinct(list_append(
          |      generate_series(1, greatest(len(w) - 31, 1), 24),
          |      greatest(len(w) - 31, 1))))) AS s
          |  FROM wl)
          |SELECT doc_id,
          |  row_number() OVER (PARTITION BY doc_id ORDER BY s) AS chunk_id,
          |  array_to_string(list_slice(w, s, s + 31), ' ') AS chunk_text
          |FROM starts
          |ORDER BY doc_id, chunk_id""".stripMargin)),

    Q("ta_linededup",
      "Cross-document duplicated-line removal (RefinedWeb boilerplate " +
        "filter): the fixture text is first broken into 3-word lines " +
        "(the fixtures are single-line), then every line appearing in " +
        "≥3 distinct docs is dropped and survivors re-join in original " +
        "order. Shuffles group on the line's md5 fingerprint (bounded " +
        "width), the boilerplate dictionary anti-join co-partitions on " +
        "the same key, and order restores from the posexplode index — " +
        "no global sort anywhere.",
      (s, d) => Dedup.dedupLines(
          Tables.documents(s, d).withColumn("text",
            regexp_replace(col("text"), "(\\S+ \\S+ \\S+) ", "$1\n")),
          "doc_id", "text", minDocs = 3)
        .orderBy("doc_id"),
      Some(
        """WITH src AS (
          |  SELECT doc_id,
          |         regexp_replace(text, '(\S+ \S+ \S+) ', '\1' || chr(10), 'g') AS t
          |  FROM documents),
          |la AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM src),
          |lines AS (
          |  SELECT doc_id, unnest(ls) AS line,
          |         unnest(generate_series(1, len(ls))) AS pos
          |  FROM la),
          |dup AS (
          |  SELECT md5(line) AS h FROM lines WHERE len(line) >= 1
          |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
          |kept AS (SELECT * FROM lines WHERE md5(line) NOT IN (SELECT h FROM dup))
          |SELECT s.doc_id,
          |  coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS clean_text,
          |  CAST(len(string_split(s.t, chr(10))) - count(k.line) AS BIGINT)
          |    AS n_removed
          |FROM src s LEFT JOIN kept k USING (doc_id)
          |GROUP BY s.doc_id, s.t
          |ORDER BY s.doc_id""".stripMargin)),

    Q("ta_html",
      "C4-style markup stripping: script/style blocks dropped first " +
        "(stray `<` comparisons inside would break a naive tag regex), " +
        "tags stripped, entities decoded (&amp; last — double-decode " +
        "guard), whitespace collapsed — one RE2-safe projection over the " +
        "scan. The query wraps the fixture text in real markup so the " +
        "oracle exercises every pass and must recover text + ' & more'.",
      (s, d) => {
        val wrapped = concat(
          lit("<html><body class=\"x\"><p id='t'>"), col("text"),
          lit(" &amp; more</p><script>if (1 < 2) alert(\"hi\");</script>" +
            "<style>p { color: red; }</style></body></html>"))
        Tables.documents(s, d)
          .select(col("doc_id"), Curation.stripMarkup(wrapped).as("clean_text"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id, trim(regexp_replace(
          |  replace(replace(replace(replace(replace(replace(
          |    regexp_replace(
          |      regexp_replace(
          |        regexp_replace(
          |          '<html><body class="x"><p id=''t''>' || text ||
          |          ' &amp; more</p><script>if (1 < 2) alert("hi");</script>' ||
          |          '<style>p { color: red; }</style></body></html>',
          |          '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
          |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
          |      '(?s)<[^>]+>', ' ', 'g'),
          |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
          |    '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
          |  '\s+', ' ', 'g')) AS clean_text
          |FROM documents
          |ORDER BY doc_id""".stripMargin)),

    Q("ta_lmscore",
      "CCNet-shaped statistical-LM quality filter: add-one-smoothed " +
        "bigram model trained on the in-language reference subset " +
        "(lang='en'), every document scored by its MEAN in-context " +
        "bigram probability — a log-free, bit-portable stand-in for " +
        "inverse perplexity (no ln/exp: libm last-ulp drift would break " +
        "the hash gate). The model is min-count capped so it stays " +
        "bounded at any reference size and both scoring joins broadcast.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        LmSignals.bigramLmScore(docs, "doc_id", "text",
            docs.filter(col("lang") === "en"), "text", minCount = 2L)
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
          |  GROUP BY doc_id)
          |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
          |       coalesce(lm_score, 0.0::DOUBLE) AS lm_score
          |FROM documents d LEFT JOIN scored USING (doc_id)
          |ORDER BY doc_id""".stripMargin)),

    Q("ta_vocab",
      "Tokenizer-vocabulary construction with corpus coverage: " +
        "whitespace-token frequencies (one map-side-combined " +
        "aggregation — the only corpus-sized shuffle), top-50 via " +
        "TakeOrderedAndProject (never a global sort), then the " +
        "cumulative occurrence-coverage curve computed over the 50 " +
        "survivors only. Ties broken by term so ranks are total.",
      (s, d) => TextAnalysis.vocabCoverage(
        Tables.documents(s, d), "text", topK = 50),
      Some(
        """WITH counts AS (
          |  SELECT word AS term, count(*) AS freq
          |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
          |        FROM documents)
          |  WHERE word <> '' GROUP BY word),
          |tot AS (SELECT sum(freq) AS total FROM counts),
          |top AS (
          |  SELECT term, freq FROM counts
          |  ORDER BY freq DESC, term LIMIT 50)
          |SELECT row_number() OVER (ORDER BY freq DESC, term) AS rank,
          |  term, freq,
          |  (sum(freq) OVER (ORDER BY freq DESC, term
          |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
          |    / total AS coverage
          |FROM top CROSS JOIN tot
          |ORDER BY rank""".stripMargin)),

    Q("ta_invindex",
      "Distributed inverted index with the stopword df-cap: distinct " +
        "(term, doc) pairs, df counted first (map-side combinable), the " +
        "stopword band dropped, and ONLY THEN postings collected — the " +
        "collect_list group is bounded by maxDf by construction, so the " +
        "single-key 10^10-id posting list a naive build creates for " +
        "'the' at corpus scale never exists. Postings emitted as the " +
        "numerically-sorted comma-joined id string (engine-portable).",
      (s, d) => Retrieval.invertedIndex(Tables.documents(s, d),
          "doc_id", "text", maxDf = 390L)
        .orderBy("term"),
      Some("""WITH pairs AS (
             |  SELECT DISTINCT doc_id, word AS term FROM (
             |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
             |    FROM documents)
             |  WHERE word <> ''),
             |dfreq AS (
             |  SELECT term, count(*) AS df FROM pairs
             |  GROUP BY 1 HAVING count(*) <= 390)
             |SELECT term, df,
             |  string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
             |FROM pairs JOIN dfreq USING (term)
             |GROUP BY term, df
             |ORDER BY term""".stripMargin)),

    Q("ta_bm25",
      "BM25 ranked retrieval (k1=1.2, b=0.75) for a 3-term query with " +
        "the log-free Robertson idf (N-df+0.5)/(df+0.5) — monotone in " +
        "the classic ln form, pure IEEE arithmetic (no libm). Terms " +
        "pruned in the scan stage; per-term df is a |query|-row " +
        "broadcast; per-doc sum decimal-cast (order-independent); " +
        "top-k via orderBy().limit = TakeOrderedAndProject.",
      (s, d) => Retrieval.bm25(Tables.documents(s, d),
        "doc_id", "text", QueryTerms, topK = 15),
      Some(s"""WITH base AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\\s+'),
             |                x -> x <> '') AS ws
             |  FROM documents),
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
             |LIMIT 15""".stripMargin)),

    Q("ta_bm25_index",
      "BM25 served from the AT-REST index (the sim_ivf_layout pattern " +
        "for text): writeIndex materializes postings (term, doc, tf, dl) " +
        "range-partitioned and sorted by term plus exact 1-row corpus " +
        "stats; the probe's term IN (...) filter pushes into the " +
        "postings scan (file + row-group pruning) and the corpus is " +
        "never touched. Result is defined bit-identical to ta_bm25 " +
        "(shared scoring tail), so that query's oracle applies verbatim.",
      (s, d) => {
        // per-QUERY deterministic scratch dir (bounded: one per query ×
        // dataset, overwritten each run; deletion can't precede the lazy
        // result's consumption, so the dir persists until the next run) —
        // ta_phrase_index owns a separate dir, so concurrent execution
        // never races a rebuild against a read
        val path = scratch("graft_bm25_idx", d)
        Retrieval.writeIndex(Tables.documents(s, d), "doc_id", "text", path)
        Retrieval.bm25FromIndex(s, path, "doc_id", QueryTerms, topK = 15)
      },
      Some(s"""WITH base AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\\s+'),
             |                x -> x <> '') AS ws
             |  FROM documents),
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
             |LIMIT 15""".stripMargin)),

    Q("ta_pmi",
      "Top-20 collocations by log-free PMI ratio C2·N/(C1a·C1b) with the " +
        "Church-Hanks min-count guard (>= 5) applied BEFORE the unigram " +
        "joins; counts multiply as doubles (C2·N overflows int64 at " +
        "corpus scale); top-k = TakeOrderedAndProject, tie-broken on the " +
        "bigram text.",
      (s, d) => LmSignals.pmiCollocations(Tables.documents(s, d),
        "text", minCount = 5L, topK = 20),
      Some("""WITH w AS (
             |  SELECT string_split_regex(trim(text), '\s+') AS ws FROM documents),
             |pairs AS (
             |  SELECT ws[i] AS w1, ws[i] || ' ' || ws[i+1] AS big FROM (
             |    SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM w)),
             |bi AS (
             |  SELECT big, w1, count(*) AS pair_count FROM pairs
             |  GROUP BY 1, 2 HAVING count(*) >= 5),
             |uni AS (
             |  SELECT word, count(*) AS c1 FROM (
             |    SELECT unnest(ws) AS word FROM w)
             |  WHERE word <> '' GROUP BY 1),
             |tot AS (SELECT count(*) AS nbi FROM pairs)
             |SELECT big AS bigram, pair_count,
             |  u1.c1 AS w1_count, u2.c1 AS w2_count,
             |  (cast(pair_count AS DOUBLE) * cast(nbi AS DOUBLE)) /
             |  (cast(u1.c1 AS DOUBLE) * cast(u2.c1 AS DOUBLE)) AS pmi_ratio
             |FROM bi
             |JOIN uni u1 ON bi.w1 = u1.word
             |JOIN uni u2 ON substring(big, length(w1) + 2) = u2.word
             |CROSS JOIN tot
             |ORDER BY pmi_ratio DESC, bigram
             |LIMIT 20""".stripMargin)),

    Q("ta_bpe",
      "BPE tokenizer training: the corpus is read ONCE into the " +
        "vocab-bounded word-frequency table (map-side-combined groupBy), " +
        "which is collected and merge learning runs DRIVER-LOCAL as " +
        "classic fast BPE — incremental pair counts, a pair→words index, " +
        "zero Spark jobs per merge (the r6 formulation serialized one " +
        "job per merge: a scheduling-overhead scale-killer at real 32k+ " +
        "merge budgets). The oracle replays all 8 iterations unrolled " +
        "(the unrolled-Lloyd idiom), so the learned merge SEQUENCE " +
        "hash-matches bit-for-bit.",
      (s, d) => {
        val sp = s; import sp.implicits._
        learnedMerges(s, d)
          .toDF("step", "merge_left", "merge_right", "pair_count")
      },
      Some {
        val steps = (1 to BpeSteps).map(i =>
          s"SELECT CAST($i AS BIGINT) AS step, l AS merge_left, " +
            s"r AS merge_right, CAST(cnt AS BIGINT) AS pair_count FROM b$i")
          .mkString("\n UNION ALL ")
        s"WITH ${bpeCtes(BpeSteps)}m AS (\n $steps)\nSELECT * FROM m ORDER BY step"
      }),

    Q("ta_phrase",
      "Exact phrase search ('spark join', adjacent and in order) as ONE " +
        "scan-stage expression — word array staged per row, candidate " +
        "start offsets filtered with indexed lookups; no shuffle, no " +
        "positional self-join (which would shuffle the whole token " +
        "stream per phrase word).",
      (s, d) => Retrieval.phraseSearch(Tables.documents(s, d),
          "doc_id", "text", Seq("spark", "join"))
        .orderBy("doc_id"),
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'),
             |                x -> x <> '') AS ws
             |  FROM documents)
             |SELECT doc_id, count(*) AS n_matches
             |FROM (SELECT doc_id, ws,
             |        unnest(generate_series(1, len(ws) - 1)) AS i
             |      FROM w WHERE len(ws) >= 2)
             |WHERE ws[i] = 'spark' AND ws[i+1] = 'join'
             |GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    Q("ta_phrase_index",
      "Phrase search served from the positional at-rest index: postings " +
        "scan reads ONLY the phrase's terms (pushed filter on the " +
        "term-ranged layout), per-term position lists join co-partitioned " +
        "on the doc id, adjacency = shifted position containment. Same " +
        "answer as ta_phrase without touching the corpus, so that " +
        "query's oracle applies verbatim.",
      (s, d) => {
        // own scratch dir — see ta_bm25_index's path note
        val path = scratch("graft_phrase_idx", d)
        Retrieval.writeIndex(Tables.documents(s, d), "doc_id", "text", path)
        Retrieval.phraseFromIndex(s, path, "doc_id", Seq("spark", "join"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'),
             |                x -> x <> '') AS ws
             |  FROM documents)
             |SELECT doc_id, count(*) AS n_matches
             |FROM (SELECT doc_id, ws,
             |        unnest(generate_series(1, len(ws) - 1)) AS i
             |      FROM w WHERE len(ws) >= 2)
             |WHERE ws[i] = 'spark' AND ws[i+1] = 'join'
             |GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    Q("ta_bpe_vocab",
      "The tokenizer's shipped piece inventory: every symbol left after " +
        "the 8 learned merges, with corpus-frequency-weighted counts — " +
        "computed on the vocab-bounded word table (one corpus scan), " +
        "merges applied exactly as in encode. Oracle re-derives the " +
        "merges (unrolled CTEs) and explodes the final word table's " +
        "symbol strings.",
      (s, d) => {
        val merges = learnedMerges(s, d).map(m => (m._2, m._3))
        BpeTrain.vocab(Tables.documents(s, d), "text", merges)
          .orderBy("piece")
      },
      Some(
        s"""WITH ${bpeCtes(BpeSteps)}v AS (
           |  SELECT unnest(string_split(trim(sym), ' ')) AS piece, freq
           |  FROM w$BpeSteps)
           |SELECT piece, CAST(sum(freq) AS BIGINT) AS n
           |FROM v GROUP BY piece ORDER BY piece""".stripMargin)),

    Q("ta_bpe_encode",
      "Tokenize the corpus with the merges learned by ta_bpe: the merge " +
        "table is applied as a driver-side literal replace chain (a " +
        "loaded tokenizer), so the whole encode is one shuffle-free " +
        "codegen'd projection over the exploded words. Oracle re-derives " +
        "the merges and joins the final word->pieces map back onto the " +
        "corpus words — same result through a different (but equivalent) " +
        "relational path.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = learnedMerges(s, d).map(m => (m._2, m._3))
        BpeTrain.encode(docs, "doc_id", "text", merges)
          .select(col("doc_id"), col("word_pos"),
            array_join(col("pieces"), " ").as("pieces"))
          .orderBy("doc_id", "word_pos")
      },
      Some(
        s"""WITH ${bpeCtes(BpeSteps)}tok AS (
           |  SELECT doc_id, j - 1 AS word_pos, ws[j] AS word FROM (
           |    SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS j
           |    FROM (SELECT doc_id,
           |            list_filter(string_split_regex(trim(text), '\\s+'),
           |                        x -> x <> '') AS ws
           |          FROM documents)))
           |SELECT doc_id, word_pos, trim(w$BpeSteps.sym) AS pieces
           |FROM tok JOIN w$BpeSteps USING (word)
           |ORDER BY doc_id, word_pos""".stripMargin)),

    Q("ta_bm25_delete",
      "Tombstone deletes from the at-rest BM25 index: build the full " +
        "index, delete doc_id % 7 = 3 as one tombstone batch (no " +
        "postings rewritten — each deleted doc contributes an (id, dl) " +
        "row captured in ONE postings scan), serve. The serve path " +
        "anti-joins tombstones AFTER term pruning (only the query " +
        "terms' postings enter the join) and subtracts the captured " +
        "lengths from the exact-integer corpus stats, so df, avgdl and " +
        "N all shift exactly as a rebuild's would. Oracle: BM25 over " +
        "documents WHERE doc_id % 7 <> 3 — rebuild-equivalence is the " +
        "gated definition, not a claim.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val path = scratch("graft_bm25_del", d)
        Retrieval.writeIndex(docs, "doc_id", "text", path)
        Retrieval.deleteFromIndex(
          docs.filter(col("doc_id") % 7 === 3).select("doc_id"),
          "doc_id", path, batchId = 1L)
        Retrieval.bm25FromIndex(s, path, "doc_id", QueryTerms, topK = 15)
      },
      Some(bm25Sql("doc_id % 7 <> 3"))),

    Q("ta_bm25_lifecycle",
      "The full index lifecycle under one gate: build on doc_id % 4 <> " +
        "1, append the held-out quarter (batch 1), tombstone-delete " +
        "doc_id % 7 = 3 (del 2), COMPACT everything into one laid-out " +
        "batch (3) — committed by ONE atomic marker rename that both " +
        "reveals the new batch and supersedes the old set — then VACUUM " +
        "the superseded directories, and serve from what remains: a " +
        "single-batch index physically identical in layout to a fresh " +
        "build. Oracle: BM25 over the surviving corpus (% 7 <> 3). " +
        "Every crash point in the chain is RetrievalSpec-pinned.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val path = scratch("graft_bm25_lc", d)
        Retrieval.writeIndex(docs.filter(col("doc_id") % 4 =!= 1),
          "doc_id", "text", path)
        Retrieval.appendToIndex(docs.filter(col("doc_id") % 4 === 1),
          "doc_id", "text", path, batchId = 1L)
        Retrieval.deleteFromIndex(
          docs.filter(col("doc_id") % 7 === 3).select("doc_id"),
          "doc_id", path, batchId = 2L)
        Retrieval.compactIndex(s, path, "doc_id", newBatchId = 3L)
        Retrieval.vacuumIndex(s, path)
        Retrieval.bm25FromIndex(s, path, "doc_id", QueryTerms, topK = 15)
      },
      Some(bm25Sql("doc_id % 7 <> 3"))),

    Q("ta_gopher",
      "The Gopher/MassiveText quality rule suite (Rae et al. 2021 " +
        "A1.1) as ONE codegen'd scan projection — word count, mean " +
        "word length, symbol-to-word ratio, alphabetic-word fraction, " +
        "required-stop-word presence, bullet/ellipsis line fractions, " +
        "duplicate-line and duplicate-line-char fractions, and the " +
        "published-threshold keep decision. Word and line statistics " +
        "stay INSIDE their row (split + higher-order array functions, " +
        "no explode): at 100 TB the whole suite is a projection on the " +
        "corpus scan, zero shuffles. Every signal is an int count or " +
        "int/int division, so the DuckDB gate hashes the signals " +
        "themselves. On THIS synthetic corpus the full keep is " +
        "uniformly false — the fixture vocabulary contains only 1 of " +
        "the 8 required function words (real web text trivially " +
        "carries them) — so keep_no_stop additionally gates the " +
        "decision with the stop-word rule factored out, where the " +
        "word-count bound discriminates doc by doc.",
      (s, d) => {
        // ONE fused codegen'd pass (graft.functions.GopherSignals) over
        // the chunked text — the WebFilters Column formulation
        // re-derives the word/line arrays per signal (11 interpreted
        // HOF trees, each re-evaluating the chunkLines HOF child):
        // 21.3 s of the round-11 sf0.1 bench. GopherSignalsSpec asserts
        // bit-equality of every field against the Column formulation.
        val g = graft.functions.GopherSignals.all(chunkLines(col("text")))
        Tables.documents(s, d)
          .withColumn("__g", g)
          .select(
            col("doc_id"),
            col("__g.n_words").as("n_words"),
            col("__g.mean_word_len").as("mean_word_len"),
            col("__g.symbol_ratio").as("symbol_ratio"),
            col("__g.alpha_frac").as("alpha_frac"),
            col("__g.stop_hits").as("stop_hits"),
            col("__g.ellipsis_frac").as("ellipsis_frac"),
            col("__g.bullet_frac").as("bullet_frac"),
            col("__g.dup_line_frac").as("dup_line_frac"),
            col("__g.dup_char_frac").as("dup_char_frac"),
            col("__g.keep").as("keep"),
            col("__g.keep_no_stop").as("keep_no_stop")
          ).orderBy("doc_id")
      },
      gopherOracle),

    Q("ta_gopher_colform",
      "The identical Gopher rule suite stated as composable Column " +
        "expressions (WebFilters) - the reference formulation the " +
        "fused ta_gopher expression is spec'd bit-equal to, kept " +
        "oracle-gated so BOTH formulations stay correct. Runs on the " +
        "doc_id % 10 slice: signals are a pure per-document " +
        "projection, so the slice proves the formulation at a tenth " +
        "of the interpreted-HOF cost (the full-corpus proof is the " +
        "fused query plus GopherSignalsSpec's bit-equality).",
      (s, d) => {
        val t = chunkLines(col("text"))
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0).select(
          col("doc_id"),
          WebFilters.nWords(t).as("n_words"),
          WebFilters.meanWordLen(t).as("mean_word_len"),
          WebFilters.symbolWordRatio(t).as("symbol_ratio"),
          WebFilters.alphaWordFrac(t).as("alpha_frac"),
          WebFilters.stopWordHits(t).as("stop_hits"),
          WebFilters.ellipsisLineFrac(t).as("ellipsis_frac"),
          WebFilters.bulletLineFrac(t).as("bullet_frac"),
          WebFilters.dupLineFrac(t).as("dup_line_frac"),
          WebFilters.dupLineCharFrac(t).as("dup_char_frac"),
          WebFilters.gopherKeep(t).as("keep"),
          WebFilters.gopherKeepNoStop(t).as("keep_no_stop")
        ).orderBy("doc_id")
      },
      gopherOracle("WHERE doc_id % 10 = 0")),

    Q("ta_c4",
      "C4 line cleaning (Raffel et al. 2020 §2.2) as one scan " +
        "projection: keep lines that end in terminal punctuation AND " +
        "carry >= 5 words (order preserved), then the document rules " +
        "on the CLEANED text — >= 3 surviving lines, no 'lorem " +
        "ipsum', no '{'. Cleaning before counting is the paper's " +
        "order: a doc can fall below the line minimum only after its " +
        "boilerplate lines are gone.",
      (s, d) => {
        val cleaned = WebFilters.c4CleanLines(chunkLines(col("text")), 5)
        Tables.documents(s, d).select(
          col("doc_id"),
          cleaned.as("clean_text"),
          WebFilters.c4Keep(cleaned, 3).as("kept")
        ).orderBy("doc_id")
      },
      Some(
        s"""WITH $LinedCtes,
           |cleaned AS (
           |  SELECT doc_id,
           |    array_to_string(list_filter(ls,
           |      l -> regexp_matches(l, '[.!?"]$$') AND
           |           len(list_filter(string_split_regex(l, '\\s+'),
           |               x -> x <> '')) >= 5),
           |      chr(10)) AS clean_text
           |  FROM split)
           |SELECT doc_id, clean_text,
           |  (len(list_filter(list_transform(string_split(clean_text,
           |       chr(10)), l -> trim(l)), l -> l <> '')) >= 3 AND
           |   NOT contains(lower(clean_text), 'lorem ipsum') AND
           |   NOT contains(clean_text, '{')) AS kept
           |FROM cleaned
           |ORDER BY doc_id""".stripMargin)),

    Q("ta_gopher_rep",
      "The complete Gopher repetition-rule table (Rae et al. 2021 A1.1 " +
        "rules the quality suite ta_gopher leaves to this query): top " +
        "2/3/4-gram character fractions (thresholds .20/.18/.16), " +
        "duplicate 5..10-gram character fractions (.15 down to .10), " +
        "duplicate-paragraph and duplicate-paragraph-char fractions " +
        "(.30/.20), and the combined keep decision. All eleven signals " +
        "are computed INSIDE their row — the nine n-gram fractions by " +
        "ONE codegen'd expression pass (GopherRepetitionFracs), no " +
        "explode: at 100 TB this is a projection on the corpus scan with " +
        "zero shuffles, where the unnest+groupBy formulation the oracle " +
        "uses would shuffle every n-gram of the corpus nine times. " +
        "Duplicate " +
        "coverage counts each occurrence's full width (documented " +
        "approximation of the paper's char marking; identical in both " +
        "engines).",
      (s, d) => {
        // Stage each expensive expression ONCE (the chunked text, the
        // nine-fraction struct, the two paragraph fracs) and derive the
        // published columns + keep decision by field reference — the
        // optimizer keeps multiply-referenced non-trivial aliases staged
        // rather than inlining them, so nothing evaluates twice (the
        // pre-round-10 formulation re-evaluated every signal inside
        // rep_keep).
        val fracs = graft.functions.GopherRepetition.allFracs(col("__t"))
        Tables.documents(s, d)
          .select(col("doc_id"), chunkParas(col("text")).as("__t"))
          .select(col("doc_id"), fracs.as("__g"),
            WebFilters.dupParagraphFrac(col("__t")).as("dup_para_frac"),
            WebFilters.dupParagraphCharFrac(col("__t"))
              .as("dup_para_char_frac"))
          .select(
            col("doc_id"),
            col("__g.top2").as("top2_frac"),
            col("__g.top3").as("top3_frac"),
            col("__g.top4").as("top4_frac"),
            col("__g.dup5").as("dup5_frac"),
            col("__g.dup6").as("dup6_frac"),
            col("__g.dup7").as("dup7_frac"),
            col("__g.dup8").as("dup8_frac"),
            col("__g.dup9").as("dup9_frac"),
            col("__g.dup10").as("dup10_frac"),
            col("dup_para_frac"), col("dup_para_char_frac"),
            (col("__g.top2") < 0.20 && col("__g.top3") < 0.18 &&
              col("__g.top4") < 0.16 && col("__g.dup5") < 0.15 &&
              col("__g.dup6") < 0.14 && col("__g.dup7") < 0.13 &&
              col("__g.dup8") < 0.12 && col("__g.dup9") < 0.11 &&
              col("__g.dup10") < 0.10 &&
              col("dup_para_frac") < 0.3 &&
              col("dup_para_char_frac") < 0.2).as("rep_keep")
          ).orderBy("doc_id")
      },
      Some {
        val grams = (2 to 10).map(gramCte).mkString(",\n")
        val tops = (2 to 4).map(topCte).mkString(",\n")
        val dups = (5 to 10).map(dupCte).mkString(",\n")
        val topCols = (2 to 4).map(n =>
          s"  coalesce(CASE WHEN nc.chars > 0 THEN t$n.cov::DOUBLE / nc.chars END, 0.0) AS top${n}_frac").mkString(",\n")
        // coalesce the coverage BEFORE least(): DuckDB's least() skips
        // NULL arguments, so least(1.0, NULL/chars) is 1.0, not NULL —
        // a doc with no duplicated n-grams would read as fully duplicated
        val dupCols = (5 to 10).map(n =>
          s"  CASE WHEN nc.chars > 0 THEN least(1.0::DOUBLE, coalesce(d$n.cov, 0)::DOUBLE / nc.chars) ELSE 0.0::DOUBLE END AS dup${n}_frac").mkString(",\n")
        val joins = (2 to 4).map(n => s"LEFT JOIN t$n ON t$n.doc_id = wl.doc_id")
          .mkString(" ") + " " +
          (5 to 10).map(n => s"LEFT JOIN d$n ON d$n.doc_id = wl.doc_id")
            .mkString(" ")
        s"""WITH $ParaCtes,
           |$grams,
           |$tops,
           |$dups,
           |paras AS (
           |  SELECT doc_id,
           |    list_filter(
           |      list_transform(string_split(t, chr(10) || chr(10)),
           |                     p -> trim(p)),
           |      p -> p <> '') AS ps
           |  FROM lined),
           |pf AS (
           |  SELECT doc_id,
           |    CASE WHEN len(ps) = 0 THEN 0.0::DOUBLE ELSE
           |      1.0 - len(list_distinct(ps))::DOUBLE / len(ps) END
           |      AS dup_para_frac,
           |    CASE WHEN len(ps) = 0 OR
           |        list_aggregate(list_transform(ps, p -> length(p)),
           |                       'sum') = 0
           |      THEN 0.0::DOUBLE ELSE
           |      CAST(list_aggregate(list_transform(ps, p -> length(p)),
           |             'sum') -
           |           list_aggregate(list_transform(list_distinct(ps),
           |             p -> length(p)), 'sum') AS DOUBLE) /
           |      list_aggregate(list_transform(ps, p -> length(p)), 'sum')
           |      END AS dup_para_char_frac
           |  FROM paras)
           |SELECT wl.doc_id,
           |$topCols,
           |$dupCols,
           |  pf.dup_para_frac, pf.dup_para_char_frac,
           |  (coalesce(CASE WHEN nc.chars > 0 THEN t2.cov::DOUBLE / nc.chars END, 0.0) < 0.20 AND
           |   coalesce(CASE WHEN nc.chars > 0 THEN t3.cov::DOUBLE / nc.chars END, 0.0) < 0.18 AND
           |   coalesce(CASE WHEN nc.chars > 0 THEN t4.cov::DOUBLE / nc.chars END, 0.0) < 0.16 AND
           |   coalesce(CASE WHEN nc.chars > 0 THEN coalesce(d5.cov, 0)::DOUBLE / nc.chars END, 0.0) < 0.15 AND
           |   coalesce(CASE WHEN nc.chars > 0 THEN coalesce(d6.cov, 0)::DOUBLE / nc.chars END, 0.0) < 0.14 AND
           |   coalesce(CASE WHEN nc.chars > 0 THEN coalesce(d7.cov, 0)::DOUBLE / nc.chars END, 0.0) < 0.13 AND
           |   coalesce(CASE WHEN nc.chars > 0 THEN coalesce(d8.cov, 0)::DOUBLE / nc.chars END, 0.0) < 0.12 AND
           |   coalesce(CASE WHEN nc.chars > 0 THEN coalesce(d9.cov, 0)::DOUBLE / nc.chars END, 0.0) < 0.11 AND
           |   coalesce(CASE WHEN nc.chars > 0 THEN coalesce(d10.cov, 0)::DOUBLE / nc.chars END, 0.0) < 0.10 AND
           |   pf.dup_para_frac < 0.3 AND pf.dup_para_char_frac < 0.2)
           |    AS rep_keep
           |FROM wl JOIN nc ON nc.doc_id = wl.doc_id
           |JOIN pf ON pf.doc_id = wl.doc_id
           |$joins
           |ORDER BY wl.doc_id""".stripMargin
      }),

    Q("ta_hybrid_rrf",
      "Hybrid retrieval: BM25 top-15 (sparse) and brute-force cosine " +
        "top-15 against the stored query vector (dense), fused by " +
        "reciprocal-rank fusion score 1/(60+rank) summed over the lists " +
        "that retrieved each id — the standard RAG retrieval combiner " +
        "(needs no cross-modality score calibration). The expensive work " +
        "is the two bounded top-k retrievals (one scan each); the fusion " +
        "joins two <=15-row relations, driver-trivial at any corpus " +
        "size. Each RRF addend is one double division on integers and " +
        "the fused score one double add, spelled identically in the " +
        "oracle — bit-exact with no decimal staging.",
      (s, d) => {
        val sparse = Retrieval.rankBounded(
          Retrieval.bm25(Tables.documents(s, d), "doc_id", "text",
            QueryTerms, topK = 15), "doc_id", "score")
        val emb = Tables.embeddings(s, d)
        val qv = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
        val dense = Retrieval.rankBounded(
          Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 15)
            .withColumnRenamed("vec_id", "doc_id"), "doc_id", "cos_sim")
        Retrieval.rrfFuse(sparse, dense, "doc_id", rrfK = 60, topK = 10)
      },
      Some(s"""WITH ${sparseCtes(15)},
              |${denseCtes(15)}
              |SELECT coalesce(s.doc_id, dn.vec_id) AS doc_id,
              |  rank_a, rank_b,
              |  coalesce(1.0 / (cast(60 AS DOUBLE) + cast(rank_a AS DOUBLE)), 0.0) +
              |  coalesce(1.0 / (cast(60 AS DOUBLE) + cast(rank_b AS DOUBLE)), 0.0)
              |    AS rrf_score
              |FROM sparse s FULL OUTER JOIN dense dn ON s.doc_id = dn.vec_id
              |ORDER BY rrf_score DESC, doc_id
              |LIMIT 10""".stripMargin)),

    Q("ta_bm25_asof",
      "Index TIME TRAVEL: build the text index from the even-id half " +
        "(batch 0), append the odd-id half (batch 1), then serve " +
        "as-of batch 0 — only commit markers with id <= asOf replay, " +
        "so the query sees the index exactly as a reader did after " +
        "batch 0 committed (sound because the caller assigns monotone " +
        "batch ids; vacuum is the retention horizon, the " +
        "same trade every lakehouse table format makes). The oracle is " +
        "BM25 over only the even-id documents — time travel must equal " +
        "a fresh build of the as-of corpus.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val path = scratch("graft_bm25_asof", d)
        Retrieval.writeIndex(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", path)
        Retrieval.appendToIndex(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", path, batchId = 1L)
        Retrieval.bm25FromIndex(s, path, "doc_id", QueryTerms,
          topK = 15, asOf = 0L)
      },
      Some(s"""WITH base AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\\s+'),
             |                x -> x <> '') AS ws
             |  FROM documents
             |  WHERE doc_id % 2 = 0),
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
             |LIMIT 15""".stripMargin)),

    Q("ta_mmr",
      "MMR diversity re-rank (Carbonell & Goldstein 1998) over the " +
        "hybrid-retrieval shortlist: greedily pick 5 of the 10 " +
        "RRF-fused candidates maximizing 0.5*rrf_score - 0.5*max " +
        "cosine to the already-selected set (ties to the lower id) — " +
        "the diversity pass a RAG stack runs so near-identical chunks " +
        "don't crowd out the second topic. The expensive work is the " +
        "two retrievals (already bounded top-k); the re-rank is a k x k " +
        "exact-decimal cosine matrix and a driver-side greedy over it. " +
        "The oracle unrolls the same greedy as a five-step CTE chain " +
        "over the shared sparse/dense/fused CTEs, so the re-rank can " +
        "never drift from the fusion it consumes.",
      (s, d) => {
        val sparse = Retrieval.rankBounded(
          Retrieval.bm25(Tables.documents(s, d), "doc_id", "text",
            Seq("dup", "spark", "vector"), topK = 15), "doc_id", "score")
        val emb = Tables.embeddings(s, d)
        val qv = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
        val dense = Retrieval.rankBounded(
          Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 15)
            .withColumnRenamed("vec_id", "doc_id"), "doc_id", "cos_sim")
        val fused = Retrieval.rrfFuse(sparse, dense, "doc_id",
          rrfK = 60, topK = 10)
        Retrieval.mmrRerank(fused.select(col("doc_id"), col("rrf_score")),
          "doc_id", "rrf_score", emb, "vec_id", "embedding",
          k = 5, lambda = 0.5)
      },
      Some {
        // steps 2..5 of the greedy, each picking the argmax of
        // mmr = 0.5·rel − 0.5·max(sim to selected) over the rest
        val steps = (2 to 5).map { i =>
          s"""sel$i AS (
             |  SELECT CAST($i AS BIGINT) AS rank, c.doc_id, c.rrf_score,
             |    0.5::DOUBLE * c.rrf_score - 0.5::DOUBLE * (
             |      SELECT max(s.sim) FROM sims s
             |      JOIN selu${i - 1} t ON s.idb = t.doc_id
             |      WHERE s.ida = c.doc_id) AS mmr_score
             |  FROM fused c
             |  WHERE c.doc_id NOT IN (SELECT doc_id FROM selu${i - 1})
             |  ORDER BY mmr_score DESC, c.doc_id LIMIT 1),
             |selu$i AS (SELECT * FROM selu${i - 1} UNION ALL SELECT * FROM sel$i)""".stripMargin
        }.mkString("," + "\n")
        s"""WITH ${sparseCtes(15)},
           |${denseCtes(15)},
           |fused AS (
           |  SELECT coalesce(s.doc_id, dn.vec_id) AS doc_id,
           |    coalesce(1.0 / (cast(60 AS DOUBLE) + cast(rank_a AS DOUBLE)), 0.0) +
           |    coalesce(1.0 / (cast(60 AS DOUBLE) + cast(rank_b AS DOUBLE)), 0.0)
           |      AS rrf_score
           |  FROM sparse s FULL OUTER JOIN dense dn ON s.doc_id = dn.vec_id
           |  ORDER BY rrf_score DESC, doc_id
           |  LIMIT 10),
           |cvec AS (
           |  SELECT f.doc_id, e.embedding
           |  FROM fused f LEFT JOIN embeddings e ON e.vec_id = f.doc_id),
           |cnrm AS (
           |  SELECT doc_id,
           |    greatest(sqrt(${dotSql("embedding", "embedding")}), 1e-30) AS nrm
           |  FROM cvec, generate_series(1, 64) g(i)
           |  WHERE embedding IS NOT NULL GROUP BY doc_id),
           |pdots AS (
           |  SELECT a.doc_id AS ida, b.doc_id AS idb,
           |    ${dotSql("a.embedding", "b.embedding")} AS dot
           |  FROM cvec a, cvec b, generate_series(1, 64) g(i)
           |  WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
           |  GROUP BY a.doc_id, b.doc_id),
           |sims AS (
           |  SELECT a.doc_id AS ida, b.doc_id AS idb,
           |    coalesce(p.dot / (na.nrm * nb.nrm), 0.0::DOUBLE) AS sim
           |  FROM cvec a CROSS JOIN cvec b
           |  LEFT JOIN pdots p ON p.ida = a.doc_id AND p.idb = b.doc_id
           |  LEFT JOIN cnrm na ON na.doc_id = a.doc_id
           |  LEFT JOIN cnrm nb ON nb.doc_id = b.doc_id),
           |sel1 AS (
           |  SELECT CAST(1 AS BIGINT) AS rank, doc_id, rrf_score,
           |    0.5::DOUBLE * rrf_score - 0.5::DOUBLE * 0.0::DOUBLE AS mmr_score
           |  FROM fused ORDER BY mmr_score DESC, doc_id LIMIT 1),
           |selu1 AS (SELECT * FROM sel1),
           |$steps
           |SELECT rank, doc_id, rrf_score, mmr_score FROM selu5
           |ORDER BY rank""".stripMargin
      }),

    Q("ta_heavyhitters",
      "Heavy hitters over the corpus token stream via per-partition " +
        "Misra–Gries summaries (O(k) memory, no shuffle) + exact " +
        "recount of the <=k·P candidates — finds every token with " +
        "frequency > 0.2% WITHOUT shuffling the full vocabulary; the " +
        "k+1 >= 1/threshold bound makes the candidate set provably " +
        "complete, so the recounted output is EXACT and the plain " +
        "GROUP BY/HAVING oracle hash-matches it.",
      (s, d) => Frequent.heavyHitters(
        Frequent.wsTokens(Tables.documents(s, d), "text"),
        "token", threshold = 0.002, k = 1024),
      Some("""WITH toks AS (
             |  SELECT t.tok AS item
             |  FROM documents d,
             |       unnest(string_split_regex(trim(d.text), '\s+')) AS t(tok)
             |  WHERE t.tok <> ''),
             |n AS (SELECT count(*) AS n FROM toks)
             |SELECT item, count(*) AS cnt,
             |  CAST(count(*) AS DOUBLE) / n.n AS share
             |FROM toks, n
             |GROUP BY item, n.n
             |HAVING count(*) > 0.002 * n.n
             |ORDER BY cnt DESC, item""".stripMargin)),

    Q("ta_proximity",
      "Proximity ranking from the positional at-rest index — the " +
        "signal between exact phrase (gap = 1, ordered) and " +
        "bag-of-words BM25 (no positions): docs containing BOTH query " +
        "terms ranked by min |posA - posB| over occurrence pairs, " +
        "scored 1/(1+gap). Postings scan reads only the two terms' " +
        "rows (pushed term filter), a doc-keyed 2-row pivot, min-gap " +
        "computed INSIDE the row over the two position arrays, " +
        "TakeOrderedAndProject tail — the corpus is never touched.",
      (s, d) => {
        val path = scratch("graft_prox_idx", d)
        Retrieval.writeIndex(Tables.documents(s, d), "doc_id", "text", path)
        Retrieval.proximityFromIndex(s, path, "doc_id", "spark", "vector",
          k = 15)
      },
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'),
             |                x -> x <> '') AS ws
             |  FROM documents),
             |px AS (
             |  SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
             |  FROM w),
             |pa AS (SELECT doc_id, i FROM px WHERE ws[i] = 'spark'),
             |pb AS (SELECT doc_id, i FROM px WHERE ws[i] = 'vector'),
             |ta AS (SELECT doc_id, count(*) AS tf_a FROM pa GROUP BY 1),
             |tb AS (SELECT doc_id, count(*) AS tf_b FROM pb GROUP BY 1),
             |g AS (
             |  SELECT pa.doc_id, min(abs(pa.i - pb.i)) AS min_gap
             |  FROM pa JOIN pb USING (doc_id) GROUP BY 1)
             |SELECT g.doc_id, ta.tf_a, tb.tf_b, g.min_gap,
             |  1.0::DOUBLE / (1.0::DOUBLE + g.min_gap) AS prox_score
             |FROM g JOIN ta USING (doc_id) JOIN tb USING (doc_id)
             |ORDER BY prox_score DESC, g.doc_id
             |LIMIT 15""".stripMargin)),

    Q("ta_unigram",
      "Unigram-LM (SentencePiece-style) tokenizer TRAINING — the other " +
        "half of the tokenizer surface next to ta_bpe: ONE distributed " +
        "corpus pass builds the word-frequency table, then substring " +
        "seeding (top-60 + all chars) and 2 rounds of hard-EM (Viterbi " +
        "E-step under cnt/total probabilities, usage-recount M-step, " +
        "prune to top-40 + chars) run driver-local on the vocab-bounded " +
        "table — zero extra Spark jobs at any corpus size. Oracle: the " +
        "full EM unrolled as CTEs, Viterbi restated as ALL-path " +
        "enumeration ranked by (score DESC, pieces ASC) — bit-identical " +
        "IEEE doubles because probabilities are one exact-integer " +
        "division and products associate in path order in both engines.",
      (s, d) => {
        val (vocab, total) = trainedUnigram(s, d)
        import s.implicits._
        vocab.toDF("piece", "n")
          .withColumn("score",
            col("n").cast("double") / lit(total.toDouble))
          .orderBy(desc("n"), col("piece"))
      },
      Some(s"""WITH RECURSIVE $unigramCtes
              |SELECT piece, cnt AS n,
              |       CAST(cnt AS DOUBLE) / (SELECT total FROM t2) AS score
              |FROM v2 ORDER BY n DESC, piece""".stripMargin)),

    Q("ta_unigram_encode",
      "Tokenize the corpus with the trained unigram vocabulary: " +
        "posexploded words through the codegen'd UnigramSegment Viterbi " +
        "expression — a shuffle-free projection, the table shipped once " +
        "per executor JVM via the codegen reference mechanism (the " +
        "loaded-tokenizer shape of ta_bpe_encode with max-product " +
        "instead of merge-replay semantics). Oracle: the same trained " +
        "vocab's all-path enumeration joined back onto the corpus words.",
      (s, d) => {
        val (vocab, total) = trainedUnigram(s, d)
        UnigramLm.encode(Tables.documents(s, d), "doc_id", "text",
          vocab, total)
          .orderBy("doc_id", "word_pos")
      },
      Some(s"""WITH RECURSIVE $unigramCtes,
              |tok AS (
              |  SELECT doc_id, j - 1 AS word_pos, ws[j] AS word FROM (
              |    SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS j
              |    FROM (SELECT doc_id,
              |            list_filter(string_split_regex(trim(text), '\\s+'),
              |                        x -> x <> '') AS ws
              |          FROM documents))),
              |wenc AS (SELECT DISTINCT word FROM tok),
              |sege AS (
              |  SELECT word, 0 AS pos, CAST(1.0 AS DOUBLE) AS score,
              |         '' AS pieces
              |  FROM wenc
              |  UNION ALL
              |  SELECT s.word, s.pos + length(v.piece),
              |         s.score * (v.cnt / t.total),
              |         CASE WHEN s.pieces = '' THEN v.piece
              |              ELSE s.pieces || ' ' || v.piece END
              |  FROM sege s, v2 v, t2 t
              |  WHERE v.piece = substring(s.word, s.pos + 1, length(v.piece))),
              |beste AS (
              |  SELECT word, pieces FROM sege
              |  WHERE pos = length(word)
              |  QUALIFY row_number() OVER (PARTITION BY word
              |                             ORDER BY score DESC, pieces) = 1)
              |SELECT t.doc_id, t.word_pos, b.pieces
              |FROM tok t LEFT JOIN beste b USING (word)
              |ORDER BY doc_id, word_pos""".stripMargin)),

    Q("ta_textrank",
      "TextRank (Mihalcea & Tarau 2004) over word-window units — " +
        "representative-passage selection: each document's 8-word " +
        "windows form an overlap graph (weight = INTEGER count of " +
        "shared distinct words, so the per-node weight total is an " +
        "exact integer — a real-valued weight would make it a " +
        "rounded decimal whose division manufactures doubles on the " +
        "15th-decimal cast boundary where the engines disagree), 2 " +
        "rounds of weighted PageRank rank them, " +
        "the most central window wins (ties to the smallest index). " +
        "The pair stage joins windows ON doc_id — work is per-doc " +
        "windows², bounded by the document-length contract, never " +
        "corpus-quadratic. The gate hashes the SELECTION (winner " +
        "index + text), not the raw score: each round re-stages " +
        "rank mass through DECIMAL(38,14), which grid-aligns the " +
        "next round's inputs and makes the score's last decimal " +
        "land exactly on the cast-rounding boundary where Spark " +
        "(shortest-repr) and DuckDB (exact-binary) legitimately " +
        "disagree by 1 ulp14 — the decision is engine-exact, the " +
        "k-round float tail is not, and the oracle checks exactly " +
        "what is exact.",
      (s, d) => TextAnalysis.textRankWindows(Tables.documents(s, d),
          "doc_id", "text", windowWords = 8, damping = 0.85, iters = 2)
        .select("doc_id", "best_widx", "n_windows", "window_text"),
      Some {
        val rounds = (1 to 2).map { i =>
          s"""c$i AS (
             |  SELECT e.doc_id, e.dst AS widx,
             |    cast(sum(cast(r.r * e.wt / j.wj AS DECIMAL(38,14)))
             |      AS DOUBLE) AS sc
             |  FROM pe e
             |  JOIN r${i - 1} r ON r.doc_id = e.doc_id AND r.widx = e.src
             |  JOIN wj_t j ON j.doc_id = e.doc_id AND j.src = e.src
             |  GROUP BY e.doc_id, e.dst),
             |r$i AS MATERIALIZED (
             |  SELECT c.doc_id, c.widx,
             |    0.85::DOUBLE * coalesce(x.sc, 0.0::DOUBLE) +
             |      (1.0::DOUBLE - 0.85::DOUBLE) / n.nw AS r
             |  FROM ch c JOIN nn n USING (doc_id)
             |  LEFT JOIN c$i x ON x.doc_id = c.doc_id
             |    AND x.widx = c.widx)""".stripMargin
        }.mkString(",\n")
        s"""WITH w AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
           |  FROM documents),
           |chi AS (
           |  SELECT doc_id, ws,
           |    unnest(generate_series(1,
           |      CAST(ceil(len(ws) / 8.0) AS INT))) AS widx
           |  FROM w),
           |ch AS MATERIALIZED (
           |  SELECT doc_id, widx,
           |    list_distinct(list_slice(ws, (widx - 1) * 8 + 1,
           |      least(widx * 8, len(ws)))) AS cs,
           |    array_to_string(list_slice(ws, (widx - 1) * 8 + 1,
           |      least(widx * 8, len(ws))), ' ') AS wtext
           |  FROM chi),
           |nn AS (SELECT doc_id, count(*) AS nw FROM ch GROUP BY doc_id),
           |pe AS MATERIALIZED (
           |  SELECT a.doc_id, a.widx AS src, b.widx AS dst,
           |    CAST(len(list_intersect(a.cs, b.cs)) AS BIGINT) AS wt
           |  FROM ch a JOIN ch b
           |    ON a.doc_id = b.doc_id AND a.widx <> b.widx
           |  WHERE len(list_intersect(a.cs, b.cs)) > 0),
           |wj_t AS (
           |  SELECT doc_id, src, CAST(sum(wt) AS BIGINT) AS wj
           |  FROM pe GROUP BY doc_id, src),
           |r0 AS (
           |  SELECT c.doc_id, c.widx, 1.0::DOUBLE / n.nw AS r
           |  FROM ch c JOIN nn n USING (doc_id)),
           |$rounds
           |SELECT doc_id, widx AS best_widx, nw AS n_windows,
           |  wtext AS window_text
           |FROM (
           |  SELECT r2.doc_id, r2.widx, r2.r, n.nw, c.wtext,
           |    row_number() OVER (PARTITION BY r2.doc_id
           |      ORDER BY r2.r DESC, r2.widx) AS rn
           |  FROM r2 JOIN nn n USING (doc_id)
           |  JOIN ch c ON c.doc_id = r2.doc_id AND c.widx = r2.widx)
           |WHERE rn = 1
           |ORDER BY doc_id""".stripMargin
      }),

    Q("ta_keywords_rank",
      "TextRank keyword extraction — the original Mihalcea & Tarau " +
        "task: words are nodes, adjacency within a document is an " +
        "edge (self-pairs dropped), and corpus-global PageRank " +
        "centrality ranks the vocabulary; top 20 by (rank desc, term) " +
        ". Reuses Graphs.pageRank verbatim (generic over node type) — " +
        "the adjacency scan is one zero-shuffle projection, the edge " +
        "list is vocabulary-bounded, and every iteration shuffles " +
        "only the vocab-sized rank relation.",
      (s, d) => {
        val w = split(trim(col("text")), "\\s+")
        val pairs = Tables.documents(s, d)
          .select(explode(zip_with(
            slice(w, lit(1), greatest(size(w) - 1, lit(0))),
            slice(w, lit(2), greatest(size(w) - 1, lit(0))),
            (x, y) => struct(x.as("wa"), y.as("wb")))).as("p"))
          .select(col("p.wa").as("id_a"), col("p.wb").as("id_b"))
          .filter(col("id_a") =!= col("id_b"))
        Graphs.pageRank(pairs, "id_a", "id_b", damping = 0.85, iters = 3)
          .select(col("id").as("term"), col("pagerank").as("rank_score"))
          .orderBy(col("rank_score").desc, col("term").asc)
          .limit(20)
      },
      Some {
        val rounds = (1 to 3).map { i =>
          s"""c$i AS (
             |  SELECT e.dst AS id,
             |    cast(sum(cast(r.r / d.deg AS DECIMAL(38,14))) AS DOUBLE)
             |      AS s
             |  FROM edges e JOIN r${i - 1} r ON r.id = e.src
             |       JOIN deg d ON d.src = e.src
             |  GROUP BY e.dst),
             |r$i AS MATERIALIZED (
             |  SELECT id, 0.85::DOUBLE * s +
             |    (1.0::DOUBLE - 0.85::DOUBLE) / n AS r
             |  FROM c$i, nn)""".stripMargin
        }.mkString(",\n")
        s"""WITH w AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
           |  FROM documents),
           |wp AS (
           |  SELECT ws[i] AS a, ws[i + 1] AS b FROM (
           |    SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
           |    FROM w)
           |  WHERE ws[i] <> ws[i + 1]),
           |edges AS MATERIALIZED (
           |  SELECT a AS src, b AS dst FROM wp
           |  UNION SELECT b, a FROM wp),
           |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |nn AS (SELECT count(*) AS n FROM deg),
           |r0 AS (SELECT src AS id, 1.0::DOUBLE / n AS r FROM deg, nn),
           |$rounds
           |SELECT id AS term, r AS rank_score FROM r3
           |ORDER BY r DESC, id LIMIT 20""".stripMargin
      }),

    Q("ta_cms",
      "Count-min sketch (Cormode & Muthukrishnan 2005) over the corpus " +
        "token stream — the mergeable fixed-size (4×512 integer cells) " +
        "frequency summary answering point queries over a data-sized " +
        "vocabulary, probed here for the exact top-20 tokens: n_cms = " +
        "min over 4 md5-keyed hash rows of the addressed counter, " +
        "overcount = n_cms − n_exact ≥ 0 (CMS never underestimates — " +
        "the row makes the collision inflation itself hash-visible). " +
        "Plan: one explode×4 map-side-combined aggregate builds the " +
        "sketch (only 2048 cells cross the exchange), the probe " +
        "broadcasts it; the exact side is the same one-pass top-k as " +
        "ta_heavyhitters. Sketches of corpus slices ADD cell-wise — " +
        "the incremental/streaming merge seam.",
      (s, d) => {
        val toks = Frequent.wsTokens(Tables.documents(s, d), "text")
        val sketch = Frequent.countMinSketch(toks, "token")
        val top = toks.groupBy(col("token"))
          .agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("token").asc)
          .limit(CmsTopK)
        Frequent.cmsEstimate(sketch, top, "token")
          .select(col("token"), col("n_exact"), col("n_cms"),
            (col("n_cms") - col("n_exact")).as("overcount"))
          .orderBy(col("token"))
      },
      Some(s"""WITH toks AS (
              |  SELECT t.tok AS token
              |  FROM documents d,
              |       unnest(string_split_regex(trim(d.text), '\\s+')) AS t(tok)
              |  WHERE t.tok <> ''),
              |cms AS (
              |  SELECT j, ('0x' || substring(md5(j::VARCHAR || ':' || token),
              |      1, 8))::BIGINT % 512 AS bucket, count(*) AS cnt
              |  FROM toks, generate_series(0, 3) g(j)
              |  GROUP BY 1, 2),
              |top AS (
              |  SELECT token, count(*) AS n_exact FROM toks
              |  GROUP BY 1 ORDER BY n_exact DESC, token LIMIT $CmsTopK),
              |probe AS (
              |  SELECT token, n_exact, j,
              |    ('0x' || substring(md5(j::VARCHAR || ':' || token),
              |      1, 8))::BIGINT % 512 AS bucket
              |  FROM top, generate_series(0, 3) g(j))
              |SELECT p.token, any_value(p.n_exact) AS n_exact,
              |  min(c.cnt) AS n_cms,
              |  min(c.cnt) - any_value(p.n_exact) AS overcount
              |FROM probe p JOIN cms c ON c.j = p.j AND c.bucket = p.bucket
              |GROUP BY p.token
              |ORDER BY p.token""".stripMargin)),

    Q("ta_kneser",
      "Interpolated Kneser–Ney bigram smoothing (Kneser & Ney 1995; " +
        "Chen & Goodman 1999) — the smoother inside KenLM, i.e. what " +
        "the REAL CCNet pipeline scores with: absolute discount 0.75 " +
        "off each seen bigram, freed mass backing off to the " +
        "CONTINUATION distribution (distinct predecessors, not raw " +
        "frequency — the 'San Francisco' correction). Reported for the " +
        "top-30 bigrams with the backoff weight λ(w1) and continuation " +
        "p_cont(w2) exposed. Everything derives from ONE cached pair " +
        "histogram (one corpus explode); the three stat relations are " +
        "map-side-combined regroupings of it; no logs anywhere, so " +
        "each probability is a fixed chain of IEEE ops the oracle " +
        "restates symbol-for-symbol.",
      (s, d) => LmSignals.kneserNeyBigrams(Tables.documents(s, d), "text",
        discount = 0.75, topK = 30),
      Some("""WITH w AS (
             |  SELECT string_split_regex(trim(text), '\s+') AS ws
             |  FROM documents),
             |pr AS (
             |  SELECT ws[i] AS w1, ws[i] || ' ' || ws[i+1] AS big FROM (
             |    SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
             |    FROM w)),
             |bi AS (
             |  SELECT big, w1, substring(big, length(w1) + 2) AS w2,
             |    count(*) AS pair_count
             |  FROM pr GROUP BY 1, 2, 3),
             |pre AS (
             |  SELECT w1, CAST(sum(pair_count) AS BIGINT) AS c1,
             |    count(*) AS n1f
             |  FROM bi GROUP BY 1),
             |fol AS (SELECT w2, count(*) AS n1p FROM bi GROUP BY 1),
             |ty AS (SELECT count(*) AS n1a FROM bi),
             |top AS (
             |  SELECT big, w1, w2, pair_count FROM bi
             |  ORDER BY pair_count DESC, big LIMIT 30)
             |SELECT big AS bigram, t.pair_count, pre.c1 AS prefix_count,
             |  0.75::DOUBLE * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)
             |    AS lambda,
             |  CAST(n1p AS DOUBLE) / CAST(n1a AS DOUBLE) AS p_cont,
             |  (CAST(t.pair_count AS DOUBLE) - 0.75::DOUBLE) /
             |    CAST(c1 AS DOUBLE) +
             |    (0.75::DOUBLE * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)) *
             |    (CAST(n1p AS DOUBLE) / CAST(n1a AS DOUBLE)) AS p_kn
             |FROM top t JOIN pre USING (w1) JOIN fol USING (w2)
             |CROSS JOIN ty
             |ORDER BY t.pair_count DESC, bigram""".stripMargin)),

    Q("ta_nfc",
      "Unicode NFC canonicalization as a NATIVE codegen'd Catalyst " +
        "expression (functions.UnicodeNormalize — java.text.Normalizer " +
        "inside WholeStageCodegen, never a UDF): composed and " +
        "decomposed spellings of the same text are byte-different, so " +
        "every hash-keyed dedup silently misses them until this runs. " +
        "The fixture corpus is pure ASCII, so the query PREPENDS a " +
        "decomposed prefix ('Cafe'+U+0301, 'No'+U+0308+'el') to every " +
        "row — raw length counts the combining marks, NFC length " +
        "composes them away, and the md5 of the normalized text " +
        "hash-checks Spark's Normalizer against DuckDB's " +
        "nfc_normalize codepoint-for-codepoint. Pure scan expression; " +
        "NFKC (ligature/width folding, no DuckDB counterpart) is " +
        "spec-pinned in NormalizeSpec.",
      (s, d) => {
        val t = concat(lit("Cafe\u0301 No\u0308el "), col("text"))
        Tables.documents(s, d).select(col("doc_id"),
            length(t).cast("long").as("raw_len"),
            length(Normalize.nfc(t)).cast("long").as("nfc_len"),
            md5(Normalize.nfc(t).cast("binary")).as("nfc_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  length('Cafe\u0301 No\u0308el ' || text) AS raw_len,
             |  length(nfc_normalize('Cafe\u0301 No\u0308el ' || text))
             |    AS nfc_len,
             |  md5(nfc_normalize('Cafe\u0301 No\u0308el ' || text))
             |    AS nfc_md5
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    Q("ta_fertility",
      "Tokenizer FERTILITY per language — subword pieces per word, the " +
        "standard tokenizer-fit metric (a fertility far above ~1.3 " +
        "means the vocab fragments that language's words into letter " +
        "soup, inflating sequence lengths and training cost): corpus " +
        "words and WordPiece pieces (the codegen'd max-munch " +
        "expression of ta_subword) summed per lang in ONE scan-stage " +
        "aggregate. The oracle replays the greedy walk in SQL and " +
        "re-aggregates — every piece boundary in the corpus backs the " +
        "three totals.",
      (s, d) => {
        val norm = graft.functions.WordPiece.normalize(col("text"))
        val words = when(norm === "", lit(0L))
          .otherwise(size(split(norm, " ")).cast("long"))
        Tables.documents(s, d)
          .select(col("lang"), words.as("__w"),
            Truncate.subwordCount(col("text")).cast("long").as("__p"))
          .groupBy(col("lang"))
          .agg(sum(col("__w")).as("n_words"), sum(col("__p")).as("n_pieces"),
            (sum(col("__p")).cast("double") / sum(col("__w")).cast("double"))
              .as("fertility"))
          .orderBy("lang")
      },
      Some(
        s"""WITH RECURSIVE vocab(piece) AS (VALUES ${wordPieceVocabValues}),
           |vocab2 AS (
           |  SELECT CASE WHEN piece LIKE '##%' THEN substring(piece, 3)
           |              ELSE piece END AS body,
           |         piece LIKE '##%' AS is_cont
           |  FROM vocab),
           |docs AS (
           |  SELECT doc_id,
           |    trim(regexp_replace(lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')),
           |         '[^a-z]+', ' ', 'g')) AS t
           |  FROM documents),
           |w0 AS (SELECT doc_id, string_split(t, ' ') AS sp FROM docs WHERE t <> ''),
           |w1 AS (SELECT doc_id, unnest(generate_series(1, len(sp))) AS wi, sp FROM w0),
           |words AS (SELECT doc_id, wi, sp[wi] AS word FROM w1),
           |pos AS (
           |  SELECT doc_id, wi, word, unnest(generate_series(1, len(word))) AS p
           |  FROM words),
           |steps AS (
           |  SELECT po.doc_id, po.wi, po.p, max(len(v.body)) AS step
           |  FROM pos po JOIN vocab2 v
           |    ON substring(po.word, po.p, 1) = substring(v.body, 1, 1)
           |   AND (po.p = 1) = (NOT v.is_cont)
           |   AND substring(po.word, po.p, len(v.body)) = v.body
           |  GROUP BY 1, 2, 3),
           |walk AS (
           |  SELECT doc_id, wi, word, 1 AS p, 0 AS k FROM words
           |  UNION ALL
           |  SELECT w.doc_id, w.wi, w.word, w.p + s.step, w.k + 1
           |  FROM walk w JOIN steps s
           |    ON s.doc_id = w.doc_id AND s.wi = w.wi AND s.p = w.p
           |  WHERE w.p <= len(w.word)),
           |done AS (SELECT doc_id, wi, k FROM walk WHERE p = len(word) + 1),
           |perdoc AS (
           |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS pieces,
           |    count(*) AS words
           |  FROM done GROUP BY doc_id)
           |SELECT d.lang,
           |  CAST(sum(coalesce(p.words, 0)) AS BIGINT) AS n_words,
           |  CAST(sum(coalesce(p.pieces, 0)) AS BIGINT) AS n_pieces,
           |  CAST(sum(coalesce(p.pieces, 0)) AS DOUBLE) /
           |    CAST(sum(coalesce(p.words, 0)) AS DOUBLE) AS fertility
           |FROM documents d LEFT JOIN perdoc p USING (doc_id)
           |GROUP BY d.lang
           |ORDER BY d.lang""".stripMargin)),

    Q("ta_winnow",
      "Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken " +
        "2003 — the MOSS algorithm): per sliding window of 8 " +
        "consecutive character-16-gram hashes keep the minimum (ties " +
        "leftmost), dedupe — the LOCAL guarantee a global min-hash " +
        "lacks: any shared span of ≥ 23 chars yields a shared selected " +
        "print, so matching prints finds plagiarized/quoted SPANS at " +
        "~2/(w+1) index density. Pure per-row array expressions inside " +
        "codegen, one explode, no shuffle before the output sort; the " +
        "oracle replays selection with a per-window row_number argmin.",
      (s, d) => TextAnalysis.winnow(Tables.documents(s, d),
        "doc_id", "text", k = 16, w = 8),
      Some(s"""WITH c AS (
              |  SELECT doc_id, ${cleanSql} AS msg
              |  FROM documents),
              |hs AS (
              |  SELECT doc_id,
              |    list_transform(
              |      generate_series(1, greatest(length(msg) - 15, 1)),
              |      i -> md5(substr(msg, i, 16))) AS h
              |  FROM c),
              |st AS (
              |  SELECT doc_id, h,
              |    unnest(generate_series(1, greatest(len(h) - 7, 1))) AS i
              |  FROM hs),
              |wp AS (
              |  SELECT doc_id, i, h,
              |    unnest(generate_series(i, least(i + 7, len(h)))) AS p
              |  FROM st),
              |hv AS (SELECT doc_id, i, p, h[p] AS fp FROM wp),
              |r AS (
              |  SELECT doc_id, i, p, fp, row_number() OVER (
              |    PARTITION BY doc_id, i ORDER BY fp, p) AS rn
              |  FROM hv)
              |SELECT DISTINCT doc_id, p AS pos, fp
              |FROM r WHERE rn = 1
              |ORDER BY doc_id, pos""".stripMargin)),

    Q("ta_ndcg",
      "Offline retrieval-quality evaluation: nDCG@10 and MRR@10 of the " +
        "BM25 ranking (ta_bm25's exact scorer) against a graded " +
        "relevance label — distinct query terms present in the " +
        "document (0..3), the deterministic stand-in for editorial " +
        "judgments at the same (id, rel) seam real evals use. DCG " +
        "discounts are driver-computed literal doubles (no runtime " +
        "log2 in either engine), gains are integer·literal products, " +
        "and both DCG folds run in RANK ORDER (aggregate over the " +
        "rank-sorted list ≡ list_reduce) — the whole metric " +
        "hash-checks. The retrieval is the only corpus-sized work; " +
        "the metric runs on ≤k-row bounded relations.",
      (s, d) => Retrieval.ndcgMrrAtK(Tables.documents(s, d),
        "doc_id", "text", Seq("dup", "spark", "vector"), k = NdcgK),
      Some {
        val wtRows = DcgWeights.zipWithIndex
          .map { case (w, i) => s"(${i + 1}, ${w}::DOUBLE)" }
          .mkString(", ")
        s"""WITH base AS MATERIALIZED (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(trim(text), '\\s+'),
           |                x -> x <> '') AS ws
           |  FROM documents),
           |stats AS (
           |  SELECT cast(sum(len(ws)) AS DOUBLE) / count(*) AS avgdl,
           |         count(*) AS n
           |  FROM base),
           |tf AS (
           |  SELECT doc_id, dl, t, count(*) AS tf FROM (
           |    SELECT doc_id, len(ws) AS dl, unnest(ws) AS t FROM base)
           |  WHERE t IN ('dup', 'spark', 'vector')
           |  GROUP BY 1, 2, 3),
           |dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
           |scored AS MATERIALIZED (
           |  SELECT doc_id,
           |    cast(floor(sum(cast(
           |      ((cast(n AS DOUBLE) - cast(df AS DOUBLE) + 0.5) /
           |       (cast(df AS DOUBLE) + 0.5)) *
           |      ((cast(tf AS DOUBLE) * 2.2) /
           |       (cast(tf AS DOUBLE) +
           |        1.2 * (1.0 - 0.75 + 0.75 * cast(dl AS DOUBLE) / avgdl)))
           |      AS DECIMAL(38,14))) * 1000000
           |      + cast(0.5 AS DECIMAL(38,14))) AS DOUBLE)
           |      / 1000000.0 AS score
           |  FROM tf JOIN dfq USING (t) CROSS JOIN stats
           |  GROUP BY doc_id
           |  ORDER BY score DESC, doc_id
           |  LIMIT 15),
           |rels AS MATERIALIZED (
           |  SELECT doc_id,
           |    len(list_intersect(list_distinct(ws),
           |        ['dup', 'spark', 'vector'])) AS rel
           |  FROM base),
           |wts(rank, w) AS (VALUES $wtRows),
           |ranked AS MATERIALIZED (
           |  SELECT doc_id, row_number() OVER (ORDER BY score DESC,
           |    doc_id) AS rank
           |  FROM scored
           |  QUALIFY rank <= $NdcgK),
           |gains AS (
           |  SELECT r.rank, cast(rel AS DOUBLE) * w AS gain, rel
           |  FROM ranked r JOIN rels USING (doc_id)
           |  JOIN wts ON wts.rank = r.rank),
           |dcg AS (
           |  SELECT coalesce(list_reduce(list(gain ORDER BY rank),
           |      (a, b) -> a + b), 0.0) AS dcg,
           |    min(CASE WHEN rel > 0 THEN rank END) AS fr
           |  FROM gains),
           |ideal AS MATERIALIZED (
           |  SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id)
           |    AS rank
           |  FROM rels
           |  QUALIFY rank <= $NdcgK),
           |idcg AS (
           |  SELECT coalesce(list_reduce(
           |      list(cast(rel AS DOUBLE) * w ORDER BY i.rank),
           |      (a, b) -> a + b), 0.0) AS idcg
           |  FROM ideal i JOIN wts ON wts.rank = i.rank)
           |SELECT CAST($NdcgK AS BIGINT) AS k, dcg, idcg,
           |  CASE WHEN idcg <> 0.0 THEN dcg / idcg END AS ndcg,
           |  coalesce(1.0 / fr, 0.0) AS mrr
           |FROM dcg, idcg""".stripMargin
      }),

    Q("ta_rm3",
      "RM3 pseudo-relevance-feedback query expansion (Lavrenko-Croft " +
        "relevance model): BM25 retrieves a 10-doc feedback set for " +
        "the 2-term query, candidate expansion terms score by the " +
        "integer-exact RM1 evidence sum floor(1e12*tf/dl) under a " +
        "corpus stopword gate 2*df <= N (the df-cap discipline; never " +
        "a runtime log), the top-5 terms join the query, and the " +
        "rescore interpolates at lambda = 1/2: score = score_orig + " +
        "0.5*score_exp on the established quantized BM25 doubles. " +
        "Candidate mining explodes only the feedback docs (broadcast " +
        "semi-join); corpus df is one candidate-pruned scan; the " +
        "expansion list is a <= 5-row driver collect (the " +
        "section-regex compile pattern); every retrieval is a " +
        "scan-pruned TakeOrderedAndProject.",
      (s, d) => graft.ops.Retrieval.rm3Expand(Tables.documents(s, d),
        "doc_id", "text", Seq("spark", "vector")),
      Some {
        val scoreSum =
          """cast(floor(sum(cast(
            |      ((cast(n AS DOUBLE) - cast(df AS DOUBLE) + 0.5) /
            |       (cast(df AS DOUBLE) + 0.5)) *
            |      ((cast(tf AS DOUBLE) * 2.2) /
            |       (cast(tf AS DOUBLE) +
            |        1.2 * (1.0 - 0.75 + 0.75 * cast(dl AS DOUBLE) / avgdl)))
            |      AS DECIMAL(38,14))) * 1000000
            |      + cast(0.5 AS DECIMAL(38,14))) AS DOUBLE) / 1000000.0"""
            .stripMargin
        def qsum(cond: String) =
          s"""cast(floor(coalesce(sum(cast(CASE WHEN $cond THEN
             |      ((cast(n AS DOUBLE) - cast(df AS DOUBLE) + 0.5) /
             |       (cast(df AS DOUBLE) + 0.5)) *
             |      ((cast(tf AS DOUBLE) * 2.2) /
             |       (cast(tf AS DOUBLE) +
             |        1.2 * (1.0 - 0.75 + 0.75 * cast(dl AS DOUBLE) / avgdl)))
             |      END AS DECIMAL(38,14))), cast(0 AS DECIMAL(38,14)))
             |      * 1000000
             |      + cast(0.5 AS DECIMAL(38,14))) AS DOUBLE) / 1000000.0"""
            .stripMargin
        s"""WITH base AS MATERIALIZED (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(trim(text), '\\s+'),
           |                x -> x <> '') AS ws
           |  FROM documents),
           |stats AS (
           |  SELECT cast(sum(len(ws)) AS DOUBLE) / count(*) AS avgdl,
           |         count(*) AS n
           |  FROM base),
           |tf0 AS (
           |  SELECT doc_id, dl, t, count(*) AS tf FROM (
           |    SELECT doc_id, len(ws) AS dl, unnest(ws) AS t FROM base)
           |  WHERE t IN ('spark', 'vector')
           |  GROUP BY 1, 2, 3),
           |dfq0 AS (SELECT t, count(*) AS df FROM tf0 GROUP BY 1),
           |fb AS (
           |  SELECT doc_id, $scoreSum AS score
           |  FROM tf0 JOIN dfq0 USING (t) CROSS JOIN stats
           |  GROUP BY doc_id
           |  ORDER BY score DESC, doc_id LIMIT 10),
           |cand AS (
           |  SELECT doc_id, dl, t, count(*) AS tf FROM (
           |    SELECT b.doc_id, len(b.ws) AS dl, unnest(b.ws) AS t
           |    FROM base b JOIN fb USING (doc_id))
           |  WHERE t NOT IN ('spark', 'vector')
           |  GROUP BY 1, 2, 3),
           |cdf AS (
           |  SELECT t, count(*) AS dfc FROM (
           |    SELECT DISTINCT doc_id, t FROM (
           |      SELECT doc_id, unnest(ws) AS t FROM base))
           |  WHERE t IN (SELECT t FROM cand)
           |  GROUP BY t),
           |w AS (
           |  SELECT c.t,
           |    CAST(sum((1000000000000 * tf) // dl) AS BIGINT) AS w2
           |  FROM cand c JOIN cdf USING (t) CROSS JOIN stats
           |  WHERE dfc * 2 <= n
           |  GROUP BY c.t),
           |expt AS (SELECT t FROM w ORDER BY w2 DESC, t LIMIT 5),
           |tf1 AS (
           |  SELECT doc_id, dl, t, count(*) AS tf FROM (
           |    SELECT doc_id, len(ws) AS dl, unnest(ws) AS t FROM base)
           |  WHERE t IN ('spark', 'vector') OR t IN (SELECT t FROM expt)
           |  GROUP BY 1, 2, 3),
           |dfq1 AS (SELECT t, count(*) AS df FROM tf1 GROUP BY 1),
           |scored AS (
           |  SELECT doc_id, count(*) AS n_terms,
           |    ${qsum("t IN ('spark', 'vector')")} AS score_orig,
           |    ${qsum("t IN (SELECT t FROM expt)")} AS score_exp
           |  FROM tf1 JOIN dfq1 USING (t) CROSS JOIN stats
           |  GROUP BY doc_id)
           |SELECT doc_id, n_terms, score_orig, score_exp,
           |  score_orig + 0.5 * score_exp AS score
           |FROM scored
           |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin
      }),

    Q("ta_urlnorm",
      "URL canonicalization — the crawl pipeline's first dedup key: " +
        "lowercase scheme/host, strip www./default port/fragment, " +
        "collapse duplicate slashes, strip trailing slash, drop " +
        "tracking params (utm_*/fbclid/gclid/msclkid/ref) and sort the " +
        "survivors. Six deterministic URL variants per doc exercise " +
        "every rule. Pure codegen'd scan-stage string expressions — " +
        "no UDF, no shuffle beyond the final presentation sort.",
      (s, d) => Tables.documents(s, d)
        .withColumn("url", syntheticUrl())
        .select(col("doc_id"), col("url"),
          UrlOps.canonicalizeUrl(col("url")).as("canonical"))
        .orderBy("doc_id"),
      Some(s"""WITH $urlCtes
              |SELECT doc_id, url, canonical
              |FROM canon ORDER BY doc_id""".stripMargin)),

    Q("ta_heavyhitters_by",
      "Per-language heavy hitters: tokens with in-group frequency > " +
        "0.2% of that LANGUAGE's token stream, via one Misra-Gries " +
        "summary per (group, partition) — O(k x groups) memory, no " +
        "shuffle — then an exact recount of the broadcast candidates. " +
        "The per-group undercount bound makes the candidate set " +
        "provably complete per group, so the plain per-group GROUP BY " +
        "/ HAVING oracle hash-matches the sketched plan.",
      (s, d) => graft.ops.Frequent.heavyHittersByKey(
        Tables.documents(s, d)
          .select(col("lang"),
            explode(split(trim(col("text")), "\\s+")).as("token"))
          .filter(col("token") =!= ""),
        "lang", "token", threshold = 0.002, k = 1024),
      Some("""WITH toks AS (
             |  SELECT d.lang AS grp, t.tok AS item
             |  FROM documents d,
             |       unnest(string_split_regex(trim(d.text), '\s+')) AS t(tok)
             |  WHERE t.tok <> '' AND d.lang IS NOT NULL),
             |n AS (SELECT grp, count(*) AS n FROM toks GROUP BY grp)
             |SELECT t.grp, t.item, count(*) AS cnt,
             |  CAST(count(*) AS DOUBLE) / n.n AS share
             |FROM toks t JOIN n USING (grp)
             |GROUP BY t.grp, t.item, n.n
             |HAVING count(*) > 0.002 * n.n
             |ORDER BY grp, cnt DESC, item""".stripMargin)),

    Q("ta_vocab_overlap",
      "Pairwise vocabulary overlap between sources: per unordered " +
        "source pair the distinct-token intersection, per-source " +
        "vocabulary sizes, and Jaccard — the cross-corpus repetition " +
        "diagnostic behind mixture and dedup decisions. One (source, " +
        "token) DISTINCT is the only corpus-sized pass; the token " +
        "self-join fans out <= |sources|^2 pairs per token (sources " +
        "bounded), sizes join back broadcast.",
      (s, d) => graft.ops.TextAnalysis.vocabOverlap(
        Tables.documents(s, d), "source", "text"),
      Some("""WITH st AS (
             |  SELECT DISTINCT d.source AS s, t.tok AS tok
             |  FROM documents d,
             |       unnest(string_split_regex(trim(d.text), '\s+'))
             |         AS t(tok)
             |  WHERE t.tok <> '' AND d.source IS NOT NULL),
             |sz AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM st
             |       GROUP BY s),
             |inter AS (
             |  SELECT a.s AS slice_a, b.s AS slice_b,
             |    CAST(count(*) AS BIGINT) AS n_common
             |  FROM st a JOIN st b ON a.tok = b.tok
             |  WHERE a.s < b.s
             |  GROUP BY 1, 2)
             |SELECT slice_a, slice_b, sa.n AS n_a, sb.n AS n_b, n_common,
             |  CAST(n_common AS DOUBLE) /
             |    CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
             |FROM inter
             |JOIN sz sa ON sa.s = slice_a
             |JOIN sz sb ON sb.s = slice_b
             |ORDER BY slice_a, slice_b""".stripMargin)),

    Q("ta_readability",
      "Flesch reading-ease report per source - the classic of the " +
        "quality-scoring family: words, sentence terminators, and a " +
        "vowel-group syllable proxy (clamped below by the word count) " +
        "are three regexp_extract_all lengths per doc, summed per " +
        "slice map-side; the Flesch score and words-per-sentence are " +
        "fixed double expressions over the exact longs - identical " +
        "IEEE op sequences both engines. Pure scan-stage expressions " +
        "+ one keyed aggregate.",
      (s, d) => TextAnalysis.readability(Tables.documents(s, d),
        "text", "source"),
      Some("""WITH d AS (
             |  SELECT source,
             |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
             |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
             |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS vg
             |  FROM documents),
             |g AS (
             |  SELECT source, count(*) AS n_docs,
             |    CAST(sum(w) AS BIGINT) AS nw,
             |    CAST(sum(s) AS BIGINT) AS ns,
             |    CAST(sum(greatest(vg, w)) AS BIGINT) AS ny
             |  FROM d GROUP BY source)
             |SELECT source, n_docs, nw AS n_words, ns AS n_sentences,
             |  ny AS n_syllables,
             |  CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE)
             |    AS words_per_sentence,
             |  206.835 - 1.015 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
             |    - 84.6 * (CAST(ny AS DOUBLE) / CAST(nw AS DOUBLE))
             |    AS flesch
             |FROM g ORDER BY source""".stripMargin)),

    Q("ta_stem",
      "Top-30 stem families under Harman's S-stemmer (1991): lowercase " +
        "alpha tokens, the three suffix rules (ies->y unless e/a-" +
        "preceded; es->e unless a/e/o-preceded; drop a final s unless " +
        "us/ss) as one CASE chain of suffix tests + substrings - zero " +
        "per-row regex beyond tokenization, exact cross-engine. One " +
        "tokenize scan, a (stem, form) aggregate, a stem rollup " +
        "(tokens + distinct surface forms), TakeOrderedAndProject " +
        "top-k - never a global sort.",
      (s, d) => TextAnalysis.topStems(Tables.documents(s, d), "text", 30),
      Some("""WITH t AS (
             |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
             |    AS w
             |  FROM documents),
             |st AS (
             |  SELECT CASE
             |    WHEN w LIKE '%ies' THEN
             |      CASE WHEN w LIKE '%eies' OR w LIKE '%aies' THEN w
             |           ELSE substring(w, 1, len(w) - 3) || 'y' END
             |    WHEN w LIKE '%es' THEN
             |      CASE WHEN w LIKE '%aes' OR w LIKE '%ees'
             |             OR w LIKE '%oes' THEN w
             |           ELSE substring(w, 1, len(w) - 1) END
             |    WHEN w LIKE '%s' THEN
             |      CASE WHEN w LIKE '%us' OR w LIKE '%ss' THEN w
             |           ELSE substring(w, 1, len(w) - 1) END
             |    ELSE w END AS stem, w
             |  FROM t),
             |f AS (SELECT stem, w, count(*) AS c FROM st GROUP BY 1, 2)
             |SELECT stem, CAST(sum(c) AS BIGINT) AS n_tokens,
             |  count(*) AS n_forms
             |FROM f GROUP BY stem
             |ORDER BY n_tokens DESC, stem LIMIT 30""".stripMargin)),

    Q("ta_code_ratio",
      "Code-vs-prose signal per source - the corpus-mix check a " +
        "pretraining pipeline runs before assuming its text is prose: " +
        "per doc, structural-symbol count ({}();=<>[] backtick pipe) " +
        "and alphabetic count from two regexp_extract_all lengths; " +
        "per source, exact sums plus the symbol share (one division) " +
        "and docs flagged code-like when symbols*20 > alpha " +
        "(cross-multiplied integers, no threshold double). Pure " +
        "scan-stage expressions + one keyed aggregate.",
      (s, d) => {
        val sym = size(regexp_extract_all(col("text"),
          lit("[{}();=<>\\[\\]`|]"), lit(0)))
        val alpha = size(regexp_extract_all(lower(col("text")),
          lit("[a-z]"), lit(0)))
        Tables.documents(s, d)
          .select(col("source"), sym.as("__s"), alpha.as("__a"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("__s").cast("long")).as("n_symbols"),
            sum(col("__a").cast("long")).as("n_alpha"),
            sum(when(col("__s") * 20 > col("__a"), 1L).otherwise(0L))
              .as("n_codelike"))
          .select(col("source"), col("n_docs"), col("n_symbols"),
            col("n_alpha"), col("n_codelike"),
            (col("n_symbols").cast("double") /
              (col("n_symbols") + col("n_alpha")).cast("double"))
              .as("symbol_share"))
          .orderBy(col("source"))
      },
      Some("""WITH d AS (
             |  SELECT source,
             |    len(regexp_extract_all(text, '[{}();=<>\[\]`|]')) AS s,
             |    len(regexp_extract_all(lower(text), '[a-z]')) AS a
             |  FROM documents)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(s) AS BIGINT) AS n_symbols,
             |  CAST(sum(a) AS BIGINT) AS n_alpha,
             |  CAST(sum(CASE WHEN s * 20 > a THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_codelike,
             |  CAST(sum(s) AS DOUBLE) / CAST(sum(s) + sum(a) AS DOUBLE)
             |    AS symbol_share
             |FROM d GROUP BY source ORDER BY source""".stripMargin)),

    Q("ta_ttr",
      "Type-token ratio per source - the lexical-diversity readout " +
        "beside ta_vocab's corpus curve: distinct tokens over total " +
        "tokens per slice (low TTR = templated/repetitive feed). One " +
        "tokenize scan, one (source, token) distinct for the types, " +
        "one token count - the ratio is one division of exact longs.",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("source"),
            explode(split(trim(lower(col("text"))), "\\s+")).as("__t"))
          .filter(col("__t") =!= "")
        val types = toks.select(col("source"), col("__t")).distinct()
          .groupBy(col("source")).agg(count(lit(1)).as("n_types"))
        val total = toks.groupBy(col("source"))
          .agg(count(lit(1)).as("n_tokens"))
        total.join(types, Seq("source"))
          .select(col("source"), col("n_tokens"), col("n_types"),
            (col("n_types").cast("double") / col("n_tokens").cast("double"))
              .as("ttr"))
          .orderBy(col("source"))
      },
      Some("""WITH toks AS (
             |  SELECT source,
             |    unnest(string_split_regex(trim(lower(text)), '\s+'))
             |      AS t
             |  FROM documents),
             |f AS (SELECT source, t FROM toks WHERE t <> ''),
             |ty AS (SELECT source, count(DISTINCT t) AS n_types
             |       FROM f GROUP BY source),
             |tot AS (SELECT source, count(*) AS n_tokens
             |        FROM f GROUP BY source)
             |SELECT tot.source, tot.n_tokens, ty.n_types,
             |  CAST(ty.n_types AS DOUBLE) / CAST(tot.n_tokens AS DOUBLE)
             |    AS ttr
             |FROM tot JOIN ty USING (source)
             |ORDER BY source""".stripMargin))
  )
}
