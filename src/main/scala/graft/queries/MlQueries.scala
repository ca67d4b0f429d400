package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Perceptron, Profile, RankEval, Similarity}
import graft.queries.OracleCompat.dotSql

/** Machine-learning operators (`ml_*`): perceptron training and scoring,
  * calibration, ranking metrics and bootstrap uncertainty, with the
  * training loops unrolled in the oracles.
  */
object MlQueries {

  /** The perceptron fixture: ±1 label (lang='en') and integer count
    * features over documents — shared by train and eval.
    */
  private def perceptronDocs(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d).select(
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
      graft.ops.TextAnalysis.tokenCountWs(col("text")).as("toks"),
      length(col("text")).cast("long").as("chars"),
      length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", ""))
        .cast("long").as("punct"))

  /** DuckDB mirror of [[perceptronDocs]] + three unrolled training
    * epochs: CTEs f (features), w0 (zero model), and m1/w1 … m3/w3
    * (per-epoch misclassified sums and updated weights) — shared by the
    * ml_perceptron and ml_perceptron_eval oracles so training can never
    * drift between them.
    */
  private val perceptronCtes: String = {
    val epochs = (1 to 3).map { e =>
      s"""m$e AS (
         |  SELECT count(*) AS n,
         |    CAST(coalesce(sum(CASE WHEN y * (w.b + w.wt * toks +
         |      w.wc * chars + w.wp * punct) <= 0 THEN 1 END), 0)
         |      AS BIGINT) AS m,
         |    CAST(coalesce(sum(CASE WHEN y * (w.b + w.wt * toks +
         |      w.wc * chars + w.wp * punct) <= 0 THEN y END), 0)
         |      AS BIGINT) AS db,
         |    CAST(coalesce(sum(CASE WHEN y * (w.b + w.wt * toks +
         |      w.wc * chars + w.wp * punct) <= 0 THEN y * toks END), 0)
         |      AS BIGINT) AS dt,
         |    CAST(coalesce(sum(CASE WHEN y * (w.b + w.wt * toks +
         |      w.wc * chars + w.wp * punct) <= 0 THEN y * chars END), 0)
         |      AS BIGINT) AS dc,
         |    CAST(coalesce(sum(CASE WHEN y * (w.b + w.wt * toks +
         |      w.wc * chars + w.wp * punct) <= 0 THEN y * punct END), 0)
         |      AS BIGINT) AS dp
         |  FROM f, w${e - 1} w),
         |w$e AS (
         |  SELECT w.b + m.db AS b, w.wt + m.dt AS wt,
         |         w.wc + m.dc AS wc, w.wp + m.dp AS wp
         |  FROM w${e - 1} w, m$e m)""".stripMargin
    }.mkString(",\n")
    s"""f AS (
       |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
       |    CAST(CASE WHEN trim(text) = '' THEN 0
       |      ELSE len(string_split_regex(trim(text), '\\s+'))
       |      END AS BIGINT) AS toks,
       |    CAST(length(text) AS BIGINT) AS chars,
       |    CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
       |      AS BIGINT) AS punct
       |  FROM documents),
       |w0 AS (SELECT CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS wt,
       |              CAST(0 AS BIGINT) AS wc, CAST(0 AS BIGINT) AS wp),
       |$epochs""".stripMargin
  }

  /** Shared train-then-score seam (identical to ml_calibration): the
    * 3-epoch integer perceptron's final weights score every document.
    */
  private def scoredDocs(s: org.apache.spark.sql.SparkSession,
                         d: String): org.apache.spark.sql.DataFrame = {
    val docs = perceptronDocs(s, d)
    val trained = Perceptron.train(docs,
      Seq("toks", "chars", "punct"), "y", epochs = 3)
      .collect().maxBy(_.getLong(0))
    Perceptron.margins(docs, Seq("toks", "chars", "punct"), "y",
      (3 to 6).map(trained.getLong))
  }

  /** Shared oracle CTE chain: unrolled training (w3 weights), exact
    * integer margins, distinct-score relation with ascending inclusive
    * prefix counts, per-threshold (tp, fp) and the tie-corrected rank
    * term — everything integer until the single-division doubles.
    */
  private val rankCtes: String =
    s"""${perceptronCtes},
       |sc AS (
       |  SELECT CASE WHEN y = 1 THEN 1 ELSE 0 END AS p,
       |    CAST(w.b + w.wt * toks + w.wc * chars + w.wp * punct
       |      AS BIGINT) AS m
       |  FROM f, w3 w),
       |g AS (
       |  SELECT m, count(*) AS n,
       |    CAST(coalesce(sum(p), 0) AS BIGINT) AS np
       |  FROM sc GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(np) AS BIGINT) AS npos,
       |         CAST(sum(n) - sum(np) AS BIGINT) AS nneg FROM g),
       |r AS (
       |  SELECT m, n, np,
       |    CAST(sum(n) OVER (ORDER BY m) AS BIGINT) AS cn,
       |    CAST(sum(np) OVER (ORDER BY m) AS BIGINT) AS cp
       |  FROM g),
       |c AS (
       |  SELECT m, n, np,
       |    npos - cp + np AS tp,
       |    nneg - (cn - cp) + (n - np) AS fp,
       |    np * (2 * (cn - n) + n + 1) AS rank2
       |  FROM r, tot)""".stripMargin

  private val Reps = 64

  val all: Seq[Q] = Seq(

    Q("ml_perceptron",
      "Distributed batch perceptron training with EXACT cross-engine " +
        "semantics: an integer-arithmetic linear classifier (label " +
        "lang='en' as +1/-1; features = whitespace tokens, chars, " +
        "punctuation count, bias) where each epoch is ONE narrow " +
        "aggregate — the margin carries the weights as literals, " +
        "misclassified-row update sums are map-side-combined integers, " +
        "the driver applies the k-length update (parameter-server-free " +
        "batch training, the k-means/CC loop discipline). No floats, " +
        "no seed, no schedule: the oracle replays the three unrolled " +
        "epochs in integer SQL bit-for-bit. The trainable seam a " +
        "learned quality filter (fastText-style) plugs into.",
      (s, d) => graft.ops.Perceptron.train(perceptronDocs(s, d),
        Seq("toks", "chars", "punct"), "y", epochs = 3),
      Some(
        s"""WITH $perceptronCtes
           |SELECT * FROM (
           |  SELECT CAST(1 AS BIGINT) AS epoch, m1.n, m1.m AS n_misclassified,
           |    w1.b AS w_bias, w1.wt AS w_toks, w1.wc AS w_chars,
           |    w1.wp AS w_punct FROM m1, w1
           |  UNION ALL SELECT 2, m2.n, m2.m, w2.b, w2.wt, w2.wc, w2.wp
           |    FROM m2, w2
           |  UNION ALL SELECT 3, m3.n, m3.m, w3.b, w3.wt, w3.wc, w3.wp
           |    FROM m3, w3)
           |ORDER BY epoch""".stripMargin)),

    Q("ml_perceptron_eval",
      "Train -> predict -> evaluate, end to end: the 3-epoch integer " +
        "perceptron's FINAL weights score every document (one scan, " +
        "weights as literals) into a confusion matrix + accuracy — the " +
        "classifier-evaluation report a learned quality filter ships " +
        "with. Predictions, counts and the accuracy ratio are all " +
        "derived from integer arithmetic, so the whole " +
        "train-then-evaluate chain replays bit-for-bit in the oracle's " +
        "unrolled SQL.",
      (s, d) => {
        val docs = perceptronDocs(s, d)
        val trained = graft.ops.Perceptron.train(docs,
          Seq("toks", "chars", "punct"), "y", epochs = 3)
          .collect().maxBy(_.getLong(0))
        graft.ops.Perceptron.evaluate(docs, Seq("toks", "chars", "punct"),
          "y", (3 to 6).map(trained.getLong))
      },
      Some(
        s"""WITH $perceptronCtes,
           |p AS (
           |  SELECT y, CASE WHEN (w.b + w.wt * toks + w.wc * chars +
           |    w.wp * punct) > 0 THEN 1 ELSE -1 END AS pred
           |  FROM f, w3 w),
           |cm AS (
           |  SELECT count(*) AS n,
           |    CAST(coalesce(sum(CASE WHEN y = 1 AND pred = 1
           |      THEN 1 END), 0) AS BIGINT) AS tp,
           |    CAST(coalesce(sum(CASE WHEN y = -1 AND pred = 1
           |      THEN 1 END), 0) AS BIGINT) AS fp,
           |    CAST(coalesce(sum(CASE WHEN y = 1 AND pred = -1
           |      THEN 1 END), 0) AS BIGINT) AS fn,
           |    CAST(coalesce(sum(CASE WHEN y = -1 AND pred = -1
           |      THEN 1 END), 0) AS BIGINT) AS tn
           |  FROM p)
           |SELECT n, tp, fp, fn, tn,
           |  CAST(tp + tn AS DOUBLE) / n AS accuracy
           |FROM cm""".stripMargin)),

    Q("ml_calibration",
      "Calibration (reliability) report for the trained perceptron: " +
        "rows bucket into margin QUINTILES (boundaries from one exact " +
        "percentile aggregate broadcast back — the RFM no-global-sort " +
        "pattern), each bucket reporting size, positive fraction, and " +
        "mean margin. Monotone frac_pos across buckets = the score " +
        "carries signal; flat = it doesn't — the check a learned " +
        "quality filter passes before its scores become sampling " +
        "weights. Margins are integers, so every number replays " +
        "bit-for-bit through the oracle's unrolled training.",
      (s, d) => {
        val docs = perceptronDocs(s, d)
        val trained = graft.ops.Perceptron.train(docs,
          Seq("toks", "chars", "punct"), "y", epochs = 3)
          .collect().maxBy(_.getLong(0))
        graft.ops.Perceptron.calibration(docs,
          Seq("toks", "chars", "punct"), "y", (3 to 6).map(trained.getLong))
      },
      Some {
        val bucket = "1 + (CASE WHEN m > t[1] THEN 1 ELSE 0 END) + " +
          "(CASE WHEN m > t[2] THEN 1 ELSE 0 END) + " +
          "(CASE WHEN m > t[3] THEN 1 ELSE 0 END) + " +
          "(CASE WHEN m > t[4] THEN 1 ELSE 0 END)"
        s"""WITH ${perceptronCtes},
           |sc AS (
           |  SELECT y, CAST(w.b + w.wt * toks + w.wc * chars +
           |    w.wp * punct AS BIGINT) AS mi,
           |    CAST(w.b + w.wt * toks + w.wc * chars +
           |    w.wp * punct AS DOUBLE) AS m
           |  FROM f, w3 w),
           |th AS (SELECT quantile_cont(m, [0.2, 0.4, 0.6, 0.8]) AS t
           |       FROM sc)
           |SELECT CAST($bucket AS BIGINT) AS bucket,
           |  count(*) AS n,
           |  CAST(coalesce(sum(CASE WHEN y = 1 THEN 1 END), 0) AS BIGINT)
           |    AS n_pos,
           |  CAST(coalesce(sum(CASE WHEN y = 1 THEN 1 END), 0) AS DOUBLE)
           |    / count(*) AS frac_pos,
           |  CAST(sum(mi) AS DOUBLE) / count(*) AS mean_margin
           |FROM sc, th
           |GROUP BY 1
           |ORDER BY bucket""".stripMargin
      }),

    Q("ml_auc",
      "Threshold-free evaluation of the trained quality scorer: exact " +
        "ROC-AUC via the Mann-Whitney rank statistic WITH tie " +
        "correction (2U = sum over tie groups of np*(2*cumBefore+n+1) " +
        "minus NP*(NP+1) — integers end to end, surfaced as auc_num2), " +
        "Gini, and step-interpolated average precision (delta-TP at a " +
        "threshold IS its tie group's positive count, so AP folds " +
        "np*tp/(tp+fp) in descending-threshold order — the " +
        "list_reduce-replayable ordered-double idiom). One map-side-" +
        "combinable distinct-margin aggregate is the only corpus-sized " +
        "pass; cumulatives run on the distinct-score relation under " +
        "the two-level binned-prefix discipline (no global sort).",
      (s, d) => RankEval.rocAucPr(scoredDocs(s, d), "score", "y"),
      Some(
        s"""WITH $rankCtes,
           |u AS (
           |  SELECT CAST(sum(rank2) AS BIGINT) AS r2,
           |    list_reduce(
           |      list(CAST(np * tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
           |           ORDER BY m DESC),
           |      (a, b) -> a + b) AS apsum
           |  FROM c),
           |base AS (
           |  SELECT npos AS n_pos, nneg AS n_neg,
           |    r2 - npos * (npos + 1) AS auc_num2,
           |    CAST(r2 - npos * (npos + 1) AS DOUBLE)
           |      / (2.0 * npos * nneg) AS auc,
           |    apsum / npos AS avg_precision
           |  FROM u, tot)
           |SELECT n_pos, n_neg, auc_num2, auc,
           |  2.0 * auc - 1.0 AS gini, avg_precision
           |FROM base""".stripMargin)),

    Q("ml_roc",
      "The full ROC curve at every distinct score threshold " +
        "(descending): keeping rows with score >= threshold yields " +
        "(tp, fp); tpr/fpr/prec spend exactly one exact-int division " +
        "each. (tpr, fpr) walk monotonically to (1, 1) — the curve a " +
        "threshold picker reads next to ml_auc's area. Same plan " +
        "shape as ml_auc: one distinct-margin aggregate, two-level " +
        "binned prefixes, curve relation bounded by score cardinality.",
      (s, d) => RankEval.rocCurve(scoredDocs(s, d), "score", "y"),
      Some(
        s"""WITH $rankCtes
           |SELECT m AS threshold, tp, fp,
           |  CAST(tp AS DOUBLE) / npos AS tpr,
           |  CAST(fp AS DOUBLE) / nneg AS fpr,
           |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS prec
           |FROM c, tot
           |ORDER BY threshold DESC""".stripMargin)),

    Q("ml_cv",
      "3-fold cross-validation of the integer perceptron — the " +
        "variance check a single split can't give: folds are doc_id % " +
        "3 (a pure function of the data — stable across engines and " +
        "retries), each fold's 3-epoch model trains on the other two " +
        "folds and reports its held-out confusion matrix, and " +
        "cv_accuracy pools Sigma(tp+tn)/Sigma(n) as ONE exact-integer " +
        "division (never a mean of double ratios). Nine aggregate " +
        "passes over one cached staged relation; the oracle unrolls " +
        "all three trainings fold by fold.",
      (s, d) => {
        // perceptronDocs' feature exprs + the fold, in one scan
        val withFold = Tables.documents(s, d).select(
          when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
          graft.ops.TextAnalysis.tokenCountWs(col("text")).as("toks"),
          length(col("text")).cast("long").as("chars"),
          length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", ""))
            .cast("long").as("punct"),
          (col("doc_id") % 3).as("fold"))
        graft.ops.Perceptron.crossValidate(withFold,
          Seq("toks", "chars", "punct"), "y", "fold", k = 3, epochs = 3)
      },
      Some {
        val margin = "w.b + w.wt * toks + w.wc * chars + w.wp * punct"
        def foldChain(f: Int): String = {
          val epochs = (1 to 3).map { e =>
            s"""m${e}_$f AS (
               |  SELECT
               |    CAST(coalesce(sum(CASE WHEN y * ($margin) <= 0
               |      THEN y END), 0) AS BIGINT) AS db,
               |    CAST(coalesce(sum(CASE WHEN y * ($margin) <= 0
               |      THEN y * toks END), 0) AS BIGINT) AS dt,
               |    CAST(coalesce(sum(CASE WHEN y * ($margin) <= 0
               |      THEN y * chars END), 0) AS BIGINT) AS dc,
               |    CAST(coalesce(sum(CASE WHEN y * ($margin) <= 0
               |      THEN y * punct END), 0) AS BIGINT) AS dp
               |  FROM fb, w${e - 1}_$f w WHERE fold <> $f),
               |w${e}_$f AS (
               |  SELECT w.b + m.db AS b, w.wt + m.dt AS wt,
               |         w.wc + m.dc AS wc, w.wp + m.dp AS wp
               |  FROM w${e - 1}_$f w, m${e}_$f m)""".stripMargin
          }.mkString(",\n")
          s"""w0_$f AS (SELECT CAST(0 AS BIGINT) AS b,
             |  CAST(0 AS BIGINT) AS wt, CAST(0 AS BIGINT) AS wc,
             |  CAST(0 AS BIGINT) AS wp),
             |$epochs,
             |cm_$f AS (
             |  SELECT CAST($f AS BIGINT) AS fold, count(*) AS n,
             |    CAST(coalesce(sum(CASE WHEN y = 1 AND ($margin) > 0
             |      THEN 1 END), 0) AS BIGINT) AS tp,
             |    CAST(coalesce(sum(CASE WHEN y = -1 AND ($margin) > 0
             |      THEN 1 END), 0) AS BIGINT) AS fp,
             |    CAST(coalesce(sum(CASE WHEN y = 1 AND ($margin) <= 0
             |      THEN 1 END), 0) AS BIGINT) AS fn,
             |    CAST(coalesce(sum(CASE WHEN y = -1 AND ($margin) <= 0
             |      THEN 1 END), 0) AS BIGINT) AS tn
             |  FROM fb, w3_$f w WHERE fold = $f)""".stripMargin
        }
        s"""WITH fb AS MATERIALIZED (
           |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
           |    CAST(CASE WHEN trim(text) = '' THEN 0
           |      ELSE len(string_split_regex(trim(text), '\\s+'))
           |      END AS BIGINT) AS toks,
           |    CAST(length(text) AS BIGINT) AS chars,
           |    CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
           |      AS BIGINT) AS punct,
           |    doc_id % 3 AS fold
           |  FROM documents),
           |${foldChain(0)},
           |${foldChain(1)},
           |${foldChain(2)},
           |cm AS (SELECT * FROM cm_0 UNION ALL SELECT * FROM cm_1
           |       UNION ALL SELECT * FROM cm_2),
           |pool AS (
           |  SELECT CAST(sum(tp + tn) AS DOUBLE) /
           |         CAST(sum(n) AS DOUBLE) AS cv FROM cm)
           |SELECT fold, n, tp, fp, fn, tn,
           |  CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy,
           |  cv AS cv_accuracy
           |FROM cm, pool ORDER BY fold""".stripMargin
      }),

    Q("ml_kappa",
      "Cohen's kappa between two deterministic annotators (md5 stand-in " +
        "classifiers, annotator B forced to agree with A on 3/4 of docs " +
        "by a third hash) — the inter-annotator agreement audit label " +
        "pipelines report. Chance-corrected via the all-integer " +
        "rearrangement (N*A - B)/(N^2 - B), DECIMAL(38,0)-staged, ONE " +
        "double division; the (16x16)-bounded confusion relation is the " +
        "only thing past the scan.",
      (s, d) => {
        val a = OracleCompat.md5Label(concat(lit("a:"), col("text")))
        val noise = conv(substring(md5(concat(lit("n:"), col("text"))),
          1, 1), 16, 10).cast("long") % 4
        val b = when(noise === 0,
          OracleCompat.md5Label(concat(lit("b:"), col("text"))))
          .otherwise(a)
        graft.ops.RankEval.cohenKappa(
          Tables.documents(s, d).select(a.as("ann_a"), b.as("ann_b")),
          "ann_a", "ann_b")
      },
      Some("""WITH lab AS (
             |  SELECT
             |    (instr('0123456789abcdef',
             |      substring(md5('a:' || text), 1, 1)) - 1) % 16 AS la,
             |    CASE WHEN (instr('0123456789abcdef',
             |        substring(md5('n:' || text), 1, 1)) - 1) % 4 = 0
             |      THEN (instr('0123456789abcdef',
             |        substring(md5('b:' || text), 1, 1)) - 1) % 16
             |      ELSE (instr('0123456789abcdef',
             |        substring(md5('a:' || text), 1, 1)) - 1) % 16
             |    END AS lb
             |  FROM documents WHERE text IS NOT NULL),
             |cells AS (SELECT la, lb, count(*) AS n FROM lab
             |          GROUP BY la, lb),
             |tot AS (
             |  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n,
             |    CAST(coalesce(sum(CASE WHEN la = lb THEN n ELSE 0 END),
             |      0) AS BIGINT) AS n_agree
             |  FROM cells),
             |r AS (SELECT la, sum(n) AS rn FROM cells GROUP BY la),
             |c AS (SELECT lb, sum(n) AS cn FROM cells GROUP BY lb),
             |b AS (
             |  SELECT CAST(coalesce(sum(CAST(rn AS DECIMAL(38,0)) *
             |    CAST(cn AS DECIMAL(38,0))), 0) AS DECIMAL(38,0)) AS bb
             |  FROM r JOIN c ON r.la = c.lb)
             |SELECT n, n_agree,
             |  CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
             |  CAST(bb AS DOUBLE) / CAST(CAST(n AS DECIMAL(38,0)) *
             |    CAST(n AS DECIMAL(38,0)) AS DOUBLE) AS pe,
             |  CASE WHEN CAST(n AS DECIMAL(38,0)) *
             |      CAST(n AS DECIMAL(38,0)) - bb > 0 THEN
             |    CAST(CAST(n AS DECIMAL(38,0)) *
             |      CAST(n_agree AS DECIMAL(38,0)) - bb AS DOUBLE) /
             |    CAST(CAST(n AS DECIMAL(38,0)) *
             |      CAST(n AS DECIMAL(38,0)) - bb AS DOUBLE)
             |  ELSE 0e0 END AS kappa
             |FROM tot, b""".stripMargin)),

    Q("ml_knn",
      "Leave-one-out k-NN classifier eval over a 50-anchor sample - " +
        "does the embedding space separate the labels before anyone " +
        "trusts it for blocking or curation. Same plan discipline as " +
        "sim_hardneg: anchors broadcast, ONE corpus scan scores all " +
        "of them, per-anchor top-(k+1) through the TopKAgg partial " +
        "aggregate, self excluded after ranking (ties at cosine 1.0 " +
        "order by id), plurality vote with smallest-label tie-break - " +
        "all integer. Never an all-pairs join.",
      (s, d) => Similarity.knnClassify(Tables.embeddings(s, d),
        "vec_id", "embedding", "label",
        anchorIds = (0L to 490L by 10).toSeq, k = 5),
      Some {
        val dot = dotSql _
        s"""WITH anchors AS (
           |  SELECT vec_id AS aid, embedding AS ae, label AS albl
           |  FROM embeddings WHERE vec_id % 10 = 0 AND vec_id <= 490),
           |na AS (
           |  SELECT aid, greatest(sqrt(${dot("ae", "ae")}), 1e-30) AS nrm
           |  FROM anchors, generate_series(1, 64) g(i) GROUP BY aid),
           |ne AS (
           |  SELECT vec_id,
           |    greatest(sqrt(${dot("embedding", "embedding")}), 1e-30)
           |      AS nrm
           |  FROM embeddings, generate_series(1, 64) g(i)
           |  GROUP BY vec_id),
           |dots AS (
           |  SELECT a.aid, e.vec_id, ${dot("e.embedding", "a.ae")} AS dot
           |  FROM embeddings e CROSS JOIN anchors a,
           |       generate_series(1, 64) g(i)
           |  GROUP BY a.aid, e.vec_id),
           |ranked AS (
           |  SELECT d.aid, d.vec_id,
           |    row_number() OVER (PARTITION BY d.aid
           |      ORDER BY d.dot / (ne.nrm * na.nrm) DESC, d.vec_id)
           |      AS rank
           |  FROM dots d JOIN ne ON d.vec_id = ne.vec_id
           |       JOIN na ON d.aid = na.aid),
           |nbrs AS (
           |  SELECT aid, vec_id FROM ranked
           |  WHERE rank <= 6 AND vec_id <> aid
           |  QUALIFY row_number() OVER (PARTITION BY aid ORDER BY rank)
           |    <= 5),
           |votes AS (
           |  SELECT n.aid, l.label AS nlbl, count(*) AS votes
           |  FROM nbrs n JOIN embeddings l ON l.vec_id = n.vec_id
           |  GROUP BY n.aid, l.label),
           |pred AS (
           |  SELECT aid, nlbl AS predicted, votes FROM (
           |    SELECT aid, nlbl, votes,
           |      row_number() OVER (PARTITION BY aid
           |        ORDER BY votes DESC, nlbl) AS rn
           |    FROM votes) WHERE rn = 1)
           |SELECT p.aid AS anchor_id, a.albl AS true_label,
           |  p.predicted, p.votes, p.predicted = a.albl AS correct
           |FROM pred p JOIN anchors a ON a.aid = p.aid
           |ORDER BY anchor_id""".stripMargin
      }),

    Q("ml_bootstrap",
      "Deterministic Poisson-bootstrap 95% CI for mean document length " +
        "- uncertainty quantification with the reproducibility " +
        "contract: replicate multiplicities are a pure function of " +
        "md5(doc_id, replicate) (two hex digits quantize Poisson(1) " +
        "to {0..4} at 94/94/47/16/5-per-256), so engines and reruns " +
        "agree bit-for-bit. ONE scan fans rows to 64 replicates " +
        "(map-side combined), per-replicate sums are exact integers, " +
        "each mean is one division, and the CI bounds are order " +
        "statistics of the 64 means - nothing data-sized sorts.",
      (s, d) => Profile.bootstrapMeanCI(Tables.documents(s, d),
        "doc_id", "n_chars", reps = Reps, alpha = 0.05),
      Some(s"""WITH r AS (
              |  SELECT CAST(doc_id AS VARCHAR) AS k, n_chars AS v
              |  FROM documents
              |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
              |reps AS (SELECT unnest(generate_series(0, ${Reps - 1}))
              |         AS b),
              |m AS (
              |  SELECT r.k, r.v, reps.b,
              |    CASE
              |      WHEN CAST(('0x' || substring(md5(r.k || '_' ||
              |        CAST(reps.b AS VARCHAR)), 1, 2)) AS INT) <= 93
              |        THEN 0
              |      WHEN CAST(('0x' || substring(md5(r.k || '_' ||
              |        CAST(reps.b AS VARCHAR)), 1, 2)) AS INT) <= 187
              |        THEN 1
              |      WHEN CAST(('0x' || substring(md5(r.k || '_' ||
              |        CAST(reps.b AS VARCHAR)), 1, 2)) AS INT) <= 234
              |        THEN 2
              |      WHEN CAST(('0x' || substring(md5(r.k || '_' ||
              |        CAST(reps.b AS VARCHAR)), 1, 2)) AS INT) <= 250
              |        THEN 3
              |      ELSE 4 END AS m
              |  FROM r, reps),
              |means AS (
              |  SELECT b,
              |    CAST(sum(m * v) AS DOUBLE) / CAST(sum(m) AS DOUBLE)
              |      AS mean
              |  FROM m GROUP BY b HAVING sum(m) > 0),
              |ord AS (
              |  SELECT mean, row_number() OVER (ORDER BY mean) AS rn,
              |    count(*) OVER () AS nr
              |  FROM means)
              |SELECT count(*) AS n_rows,
              |  CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)
              |    AS mean,
              |  (SELECT mean FROM ord
              |   WHERE rn = GREATEST(1, CAST(ceil(0.025 * nr) AS INT)))
              |    AS ci_lo,
              |  (SELECT mean FROM ord
              |   WHERE rn = LEAST(nr, CAST(ceil(0.975 * nr) AS INT)))
              |    AS ci_hi,
              |  CAST($Reps AS BIGINT) AS reps
              |FROM r""".stripMargin))
  )
}
