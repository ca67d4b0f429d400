package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{IndexCommits, Iterate, Tables}

/** Approximate-nearest-neighbor search over an embedding column
  * (north-star extension): brute-force cosine top-k as the exact baseline,
  * and an IVF (inverted-file) variant as the scale path.
  *
  * Scale design:
  *  - Brute force is a single narrow map (one zip_with/aggregate per row)
  *    followed by TakeOrderedAndProject — per-partition top-k then a
  *    driver merge of k·partitions rows; no global sort ever materializes.
  *  - IVF: vectors are pre-clustered by a coarse quantizer — either a
  *    pre-existing cluster column ([[ivfTopK]]) or the trained Lloyd's
  *    k-means implemented here ([[kmeansCentroids]]/[[ivfTrainedTopK]]).
  *    At 100 TB the table is PARTITIONED BY the assignment column, so
  *    probing nprobe clusters prunes whole files/partitions at the scan.
  *    Centroids are a tiny aggregate (clusters × dims) that is computed
  *    once and broadcast.
  *  - All similarity math uses Dedup.dotExact (decimal-exact, order-
  *    independent) so results are bit-identical to the DuckDB oracle.
  */
object Similarity {

  /** Cosine similarity of every row's vector against a literal query
    * vector (floats are widened to double before any arithmetic).
    * Each norm is floored SEPARATELY at 1e-30 — the house zero-norm
    * guard shape, identical to every other single-norm site in this
    * file and to the oracle SQL CTEs (R6b/R7/R9/R23's
    * `greatest(sqrt(dot), 1e-30)`), so the Spark and oracle guards
    * diverge on NO input, not merely on the fixture corpora (the r13
    * ADVICE seam: a product-scale 1e-60 floor treats a {1e-40, 1.0}
    * norm pair differently from per-norm floors). Under Spark 4's
    * default ANSI mode a single zero-norm corpus row would otherwise
    * throw DIVIDE_BY_ZERO and kill the whole query; for any real
    * embedding the floor is a no-op (greatest() passes the norm
    * through bit-unchanged), so oracle hashes are unaffected.
    *
    * Known seam (documented, not fixable cross-engine): a DEGENERATE
    * row — exact-zero or sub-1e-30 norm (no float embedding gets
    * there; its smallest subnormal is ~1.4e-45 but a norm over 64
    * doubles stays ≥ ~1e-45 only for pathological inputs) — has its
    * cosine rescaled toward 0 here, mid-pack in a top-k, while
    * [[knnGraph]]'s two-phase scorer ranks degenerates last at -2 and
    * a raw-division DuckDB oracle would produce NaN or ±Inf (which
    * DuckDB sorts first under desc). The fixtures contain no zero or
    * subnormal-norm vectors, so the gated comparisons never exercise
    * this; the guard exists purely so one bad row degrades a result
    * instead of aborting the job. Corpora that can contain zero or
    * denormal vectors should filter them out ahead of ranked
    * retrieval.
    */
  def cosineToQuery(vecCol: Column, query: Seq[Float]): Column = {
    val q = typedlit(query)
    val nrm = (c: Column) => greatest(Dedup.normExact(c), lit(1e-30))
    Dedup.dotExact(vecCol, q) / (nrm(vecCol) * nrm(q))
  }

  /** Exact brute-force top-k by cosine: the correctness baseline every ANN
    * variant is measured against.
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int): DataFrame =
    emb.select(col(idCol), cosineToQuery(col(vecCol), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)

  /** Hard-negative mining for contrastive training — for every anchor,
    * the k most-similar vectors carrying a DIFFERENT label (the
    * negatives that actually teach a contrastive model something; random
    * negatives are trivially separable). Standard piece of every
    * embedding-training data pipeline (in-batch negatives → mined hard
    * negatives, cf. DPR / SimCSE).
    *
    * Plan shape at 100 TB: the anchor batch (a training batch, bounded)
    * broadcasts; the corpus is scanned ONCE for ALL anchors (batched
    * multi-query, not a scan per anchor); and per-anchor top-k runs
    * through the [[graft.functions.TopKAgg]] TypedImperativeAggregate —
    * partial aggregation bounds the shuffle to ≤ k rows per (task,
    * anchor), where the window formulation would funnel every scored
    * row of an anchor through one partition. Cosine uses the exact
    * decimal dot (oracle-portable); swap [[Dedup.dotFast]] in as a
    * prefilter + exact rescore (the sim_quant pattern) when the anchor
    * batch is large.
    *
    * Output: (anchor_id, rank, neg_id, cos_sim), rank 1..k per anchor.
    */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, anchorIds: Seq[Long],
                    k: Int): DataFrame = {
    // norms are STAGED as columns (the quantTopK pattern): higher-order
    // expressions get no subexpression elimination, so an inline
    // normExact would re-run its O(dims) decimal fold once per (row,
    // anchor) pair — the corpus-side norm is per-row and the anchor
    // norms are B constants computed before the broadcast. The 1e-30
    // floor keeps an all-zero vector (failed-embedding placeholder) at
    // cosine 0 instead of 0/0 = NaN, which would poison TopKAgg's
    // comparator (NaN is incomparable: intransitive sortWith can throw
    // and k-compaction goes partition-order nondeterministic).
    val nrm = (c: Column) => greatest(Dedup.normExact(c), lit(1e-30))
    val anchors = emb.filter(col(idCol).isin(anchorIds: _*))
      .select(col(idCol).as("anchor_id"), col(vecCol).as("__avec"),
        col(labelCol).as("__albl"), nrm(col(vecCol)).as("__anrm"))
    val scored = emb
      .withColumn("__nrm", nrm(col(vecCol)))
      .crossJoin(broadcast(anchors))
      .filter(!(col(labelCol) <=> col("__albl"))) // negatives only
      .select(col("anchor_id"),
        (Dedup.dotExact(col(vecCol), col("__avec")) /
          (col("__nrm") * col("__anrm"))).as("__cos"),
        col(idCol))
    rankedFromTopK(scored, idCol, k).withColumnRenamed(idCol, "neg_id")
  }

  /** Exact brute-force top-k for a BATCH of anchors in one corpus scan —
    * the ground-truth side of the batch recall gate. Same plan shape as
    * [[hardNegatives]] (anchors broadcast, per-anchor top-k via the
    * TopKByKey partial aggregate, ≤k rows per task-anchor cross the
    * exchange) minus the label exclusion: the anchor itself ranks first
    * in its own list, as an exact index must reproduce.
    * Output: (anchor_id, rank, id, cos_sim), rank 1..k per anchor.
    */
  def bruteForceTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
                          anchorIds: Seq[Long], k: Int): DataFrame = {
    val nrm = (c: Column) => greatest(Dedup.normExact(c), lit(1e-30))
    val anchors = emb.filter(col(idCol).isin(anchorIds: _*))
      .select(col(idCol).as("anchor_id"), col(vecCol).as("__avec"),
        nrm(col(vecCol)).as("__anrm"))
    val scored = emb
      .withColumn("__nrm", nrm(col(vecCol)))
      .crossJoin(broadcast(anchors))
      .select(col("anchor_id"),
        (Dedup.dotExact(col(vecCol), col("__avec")) /
          (col("__nrm") * col("__anrm"))).as("__cos"),
        col(idCol))
    rankedFromTopK(scored, idCol, k)
  }

  /** Trained-IVF ANN for a BATCH of anchors: ONE Lloyd training, ONE
    * narrow assignment pass, per-anchor nprobe shortlists computed on
    * the tiny (clusters × anchors) relation, then a single corpus scan
    * scores each row against exactly the anchors probing its cluster
    * (broadcast shortlist join — no per-anchor scan, no corpus-sized
    * window). The batched analogue of [[ivfTrainedTopK]].
    */
  def ivfTrainedTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
                          anchorIds: Seq[Long], k: Int, nprobe: Int,
                          kClusters: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = kmeansCentroids(emb, idCol, vecCol, kClusters, iters)
    val nrm = (c: Column) => greatest(Dedup.normExact(c), lit(1e-30))
    val anchors = emb.filter(col(idCol).isin(anchorIds: _*))
      .select(col(idCol).as("anchor_id"), col(vecCol).as("__avec"),
        nrm(col(vecCol)).as("__anrm"))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("__ccos").desc, col("cluster"))
    val shortlist = centroidsDf(emb.sparkSession, cents)
      .crossJoin(anchors) // clusters × anchors: tiny
      .select(col("anchor_id"), col("cluster"), col("__avec"), col("__anrm"),
        (Dedup.dotExact(col("centroid"), col("__avec")) /
          (Dedup.normExact(col("centroid")) * col("__anrm"))).as("__ccos"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nprobe)
      .select("anchor_id", "cluster", "__avec", "__anrm")
    val scored = emb
      .withColumn("__nrm", nrm(col(vecCol)))
      .withColumn("__g_cluster", nearestCluster(col(vecCol), cents))
      .join(broadcast(shortlist), col("__g_cluster") === col("cluster"))
      .select(col("anchor_id"),
        (Dedup.dotExact(col(vecCol), col("__avec")) /
          (col("__nrm") * col("__anrm"))).as("__cos"),
        col(idCol))
    rankedFromTopK(scored, idCol, k)
  }

  /** (anchor_id, __cos, id) → (anchor_id, rank, id, cos_sim) via the
    * k-bounded TopKByKey aggregate (shared by the batch topK shapes).
    */
  private def rankedFromTopK(scored: DataFrame, idCol: String,
                             k: Int): DataFrame =
    scored.groupBy(col("anchor_id"))
      .agg(graft.functions.TopKAgg.topK(col("__cos"), col(idCol), k).as("top"))
      .select(col("anchor_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("anchor_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as(idCol), col("t.sort_key").as("cos_sim"))

  /** Mean recall@k over an anchor BATCH — [[recallAtK]] extended to the
    * multi-anchor evaluation VERDICT r6 asked for (one atypical query
    * vector can no longer hide a bad index region). Inputs are the
    * batch-shaped ranked frames ((anchor_id, id) with ≤k rows per
    * anchor, as [[bruteForceTopKBatch]] / [[ivfTrainedTopKBatch]]
    * produce); per-anchor recall divides by that anchor's |exact| (the
    * recallAtK denominator contract), and the mean is a decimal-exact
    * sum / count. Output: one row (k, n_anchors, mean_recall).
    */
  def recallAtKBatch(exact: DataFrame, approx: DataFrame, anchorCol: String,
                     idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = exact.select(col(anchorCol), col(idCol))
    val a = approx.select(col(anchorCol), col(idCol))
    val denom = e.groupBy(anchorCol).agg(count(lit(1)).as("__n"))
    val hits = a.join(e, Seq(anchorCol, idCol))
      .groupBy(anchorCol).agg(count(lit(1)).as("__hits"))
    denom.join(hits, Seq(anchorCol), "left")
      .select((coalesce(col("__hits"), lit(0L)).cast("double") /
        col("__n")).as("__recall"))
      .agg(count(lit(1)).as("n_anchors"),
        (sum(col("__recall").cast(DecimalType(38, 14))).cast("double") /
          count(lit(1))).as("mean_recall"))
      .select(lit(k.toLong).as("k"), col("n_anchors"), col("mean_recall"))
  }

  /** Recall@k of an approximate result list against the exact one — the
    * evaluation every ANN deployment runs before trusting an index
    * (tune nprobe/bands until recall clears the bar, then ship).
    *
    * CONTRACT: both inputs must already be RANKED frames (built with an
    * `orderBy(...).limit(k)` tail, as every topK in this file produces) —
    * the first `k` rows of each are taken as-is, and on an unranked
    * frame larger than k that prefix is partition-order
    * nondeterministic. Output is one row (k, hits, recall). Cost: two
    * ≤k-row relations joined — nothing scales with the corpus, so it
    * can run after every index build as a cheap gate.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, idCol: String,
                k: Int): DataFrame = {
    val e = exact.select(col(idCol)).limit(k)
    val a = approx.select(col(idCol)).limit(k)
    // denominator = |exact list| (already limited to <= k): on a corpus
    // (or probe set) smaller than k a perfect index must still score
    // 1.0, not |corpus|/k
    val denom = e.agg(count(lit(1)).as("__n"))
    a.join(e, idCol)
      .agg(count(lit(1)).as("hits"))
      .crossJoin(broadcast(denom))
      .select(lit(k.toLong).as("k"), col("hits"),
        when(col("__n") > 0, col("hits").cast("double") / col("__n"))
          .otherwise(lit(0.0)).as("recall"))
  }

  /** Per-cluster centroids: exact decimal mean per dimension, assembled
    * back into an ordered array. One shuffle of (cluster, dim, partial
    * sums); output is clusters × dims — tiny, broadcastable.
    */
  def centroids(emb: DataFrame, clusterCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 14)
    emb.select(col(clusterCol).as("cluster"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("cluster"), col("pos"))
      .agg((sum(col("x").cast("double").cast(dec)).cast("double") / count(lit(1))).as("c"))
      .groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("centroid"))
  }

  /** IVF top-k: rank clusters by centroid cosine to the query, keep the
    * nearest `nprobe`, then brute-force only inside those clusters.
    * The cluster shortlist is a tiny plan (clusters rows) joined back as a
    * broadcast semi-join — the big table is only scanned where the
    * shortlist says to probe.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, clusterCol: String,
              query: Seq[Float], k: Int, nprobe: Int): DataFrame = {
    val cents = centroids(emb, clusterCol, vecCol)
    val shortlist = cents
      .select(col("cluster"),
        (Dedup.dotExact(col("centroid"), typedlit(query.map(_.toDouble))) /
          (Dedup.normExact(col("centroid")) * Dedup.normExact(typedlit(query.map(_.toDouble)))))
          .as("ccos"))
      .orderBy(col("ccos").desc, col("cluster"))
      .limit(nprobe)
      .select("cluster")
    emb.join(broadcast(shortlist), emb(clusterCol) === shortlist("cluster"), "left_semi")
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** SPARSE cosine similarity JOIN over integer term-frequency vectors
    * — the bag-of-words complement to the dense ANN family: documents
    * pair when cos(tf_a, tf_b) ≥ 1/2, decided EXACTLY by the
    * cross-multiplied integer comparison 4·dot² ≥ ‖a‖²·‖b‖² — no
    * sqrt, no doubles, no decimal-cast drift anywhere; every output
    * cell is an exact integer.
    *
    * Scale shape (the PPJoin/banding discipline): candidates come from
    * a DF-CAPPED postings self-join — only terms appearing in ≤ maxDf
    * docs generate pairs, so a stop-word can never go quadratic (the
    * recall/cost lever every set-similarity join here exposes; a pair
    * sharing only ultra-common terms is not a near-dup claim worth
    * making). Candidate pairs then rescore their dot over ALL shared
    * terms (two id-keyed joins bounded by candidate count × doc
    * length), so the threshold decision itself is uncapped-exact.
    */
  /** Word n-grams WITH multiplicity (the tf unit [[sparseCosinePairs]]
    * counts — unlike [[Dedup.Shingler]]'s set-semantics shingles): a
    * doc shorter than n yields its single truncated gram, so every doc
    * has a non-empty vector. Pure scan-stage array expression.
    */
  def wordNgrams(textCol: Column, n: Int): Column = {
    require(n >= 1, "n-gram order")
    val ws = split(trim(lower(textCol)), "\\s+")
    transform(sequence(lit(1), greatest(size(ws) - (n - 1), lit(1))),
      i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + lit(j))): _*))
  }

  def sparseCosinePairs(docs: DataFrame, idCol: String, tokens: Column,
                        maxDf: Int = 100): DataFrame = {
    val Dec = DecimalType(38, 0)
    val tf = graft.core.Caches.track(docs
      .select(col(idCol).as("__id"), explode(tokens).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col("__id"), col("__t"))
      .agg(count(lit(1)).as("__tf")))
    val norms = tf.groupBy(col("__id"))
      .agg(sum(col("__tf") * col("__tf")).as("__n2"))
    val rare = tf.join(
      tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf), "__t")
    val cand = rare.select(col("__t"), col("__id").as("id_a"))
      .join(rare.select(col("__t"), col("__id").as("id_b")), "__t")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // NOTE (r17): a per-doc tf-map rescore (map_from_entries +
    // higher-order aggregate dot, the ppjoin array_intersect pattern)
    // was tried here and measured WORSE (solo 2.9 -> 4.0 s): the
    // higher-order aggregate is interpreted per element and iterates
    // ALL of a's terms per pair, while this join touches only SHARED
    // terms through codegen'd hash joins. Kept as measured.
    val dots = cand
      .join(tf.select(col("__id").as("id_a"), col("__t"),
        col("__tf").as("__fa")), "id_a")
      .join(tf.select(col("__id").as("id_b"), col("__t"),
        col("__tf").as("__fb")), Seq("id_b", "__t"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("__fa") * col("__fb")).as("dot"))
    dots
      .join(norms.select(col("__id").as("id_a"), col("__n2").as("na2")),
        "id_a")
      .join(norms.select(col("__id").as("id_b"), col("__n2").as("nb2")),
        "id_b")
      .filter(lit(4).cast(Dec) * col("dot").cast(Dec) * col("dot").cast(Dec)
        >= col("na2").cast(Dec) * col("nb2").cast(Dec))
      .select(col("id_a"), col("id_b"), col("dot"), col("na2"), col("nb2"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact cosine RANGE search — every vector within `minCos` of the
    * query, not a fixed top-k: the retrieval mode dedup thresholds and
    * "everything this similar" audits need, where k is unknowable up
    * front. One narrow scan-stage cosine per row + a pushed filter;
    * the boundary compare runs on the decimal-exact cosine, so
    * membership is bit-stable cross-engine. Ordered (cos desc, id) for
    * a deterministic result relation.
    */
  def rangeSearch(emb: DataFrame, idCol: String, vecCol: String,
                  query: Seq[Float], minCos: Double): DataFrame =
    emb.select(col(idCol), cosineToQuery(col(vecCol), query).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
      .orderBy(col("cos_sim").desc, col(idCol))

  /** [[rangeSearch]] through the IVF index, gated: probe the top
    * `nprobe` clusters only (the 100 TB path — the scan prunes to
    * nprobe partitions), threshold inside them, and report per
    * brute-force-true row whether the pruned probe found it, plus the
    * recall fraction — the range-query analogue of the top-k recall
    * gates (an in-bound miss is the tuning signal; a broken probe
    * fails the round).
    */
  def rangeSearchIvfGate(emb: DataFrame, idCol: String, vecCol: String,
                         clusterCol: String, query: Seq[Float],
                         minCos: Double, nprobe: Int): DataFrame = {
    val cents = centroids(emb, clusterCol, vecCol)
    val qd = typedlit(query.map(_.toDouble))
    val shortlist = cents
      .select(col("cluster"),
        (Dedup.dotExact(col("centroid"), qd) /
          (Dedup.normExact(col("centroid")) * Dedup.normExact(qd)))
          .as("ccos"))
      .orderBy(col("ccos").desc, col("cluster"))
      .limit(nprobe)
      .select("cluster")
    val probed = emb
      .join(broadcast(shortlist), emb(clusterCol) === shortlist("cluster"),
        "left_semi")
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("__c"))
      .filter(col("__c") >= minCos)
      .select(col(idCol).as("__fid"))
    val truth = rangeSearch(emb, idCol, vecCol, query, minCos)
    val flagged = graft.core.Caches.track(
      truth.join(probed, truth(idCol) === probed("__fid"), "left")
        .select(col(idCol), col("cos_sim"), col("__fid").isNotNull
          .as("found")))
    val summary = flagged.agg(count(lit(1)).as("__n"),
      sum(when(col("found"), 1L).otherwise(0L)).as("__f"))
    flagged.crossJoin(broadcast(summary))
      .select(col(idCol), col("cos_sim"), col("found"),
        (col("__f").cast("double") / col("__n").cast("double"))
          .as("recall"))
      .orderBy(col("cos_sim").desc, col(idCol))
  }

  /** Leave-one-out k-NN CLASSIFIER evaluation over a bounded anchor
    * sample — the eval that says whether the embedding space actually
    * separates the labels before anyone trusts it for blocking or
    * curation. Same plan discipline as [[hardNegatives]]: anchors
    * broadcast, ONE corpus scan scores all of them, per-anchor top-k
    * through the TopKAgg partial aggregate (≤ k+1 rows per task-anchor
    * cross the exchange) — never an all-pairs join. The anchor's own
    * row is excluded AFTER ranking (ties at cosine 1.0 still order by
    * id, so the exclusion is deterministic); the vote is plurality
    * with smallest-label tie-break, all integer.
    * Output per anchor: true label, predicted label, votes, correct.
    */
  def knnClassify(emb: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, anchorIds: Seq[Long],
                  k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = bruteForceTopKBatch(emb, idCol, vecCol, anchorIds, k + 1)
      .filter(col("anchor_id") =!= col(idCol)) // leave-one-out
    val rerank = Window.partitionBy(col("anchor_id")).orderBy(col("rank"))
    val nbrs = top.withColumn("__r", row_number().over(rerank))
      .filter(col("__r") <= k)
      .select(col("anchor_id"), col(idCol))
    val votes = nbrs
      .join(emb.select(col(idCol), col(labelCol).as("__nlbl")), idCol)
      .groupBy(col("anchor_id"), col("__nlbl"))
      .agg(count(lit(1)).as("votes"))
    val pick = Window.partitionBy(col("anchor_id"))
      .orderBy(col("votes").desc, col("__nlbl"))
    val pred = votes.withColumn("__p", row_number().over(pick))
      .filter(col("__p") === 1)
      .select(col("anchor_id"), col("__nlbl").as("predicted"),
        col("votes"))
    pred
      .join(emb.select(col(idCol).as("anchor_id"),
        col(labelCol).as("true_label")), "anchor_id")
      .select(col("anchor_id"), col("true_label"), col("predicted"),
        col("votes"),
        (col("predicted") === col("true_label")).as("correct"))
      .orderBy(col("anchor_id"))
  }

  /** Driver-side fetch of one stored vector to use as a query (tiny point
    * lookup; the scan prunes to the one-row filter).
    */
  def vectorOf(emb: DataFrame, idCol: String, vecCol: String, id: Long): Seq[Float] =
    emb.filter(col(idCol) === id).select(vecCol).first()
      .getSeq[Float](0)

  /** Greedy k-center selection (Gonzalez 1985, the 2-approximation to
    * the metric k-center problem) — DIVERSITY-maximizing subset
    * selection over the embedding space: start from the smallest id,
    * then k−1 times add the point FARTHEST from every center chosen so
    * far. The classic coreset/curation primitive (pick maximally spread
    * exemplars for annotation, eval-set seeding, or coverage-balanced
    * training mixes) — the geometric complement of [[hardNegatives]]
    * (which mines the most-similar points).
    *
    * Fully deterministic: exact decimal squared-L2 ([[sqDistExact]]),
    * argmax ties to the smallest id, no RNG — so a DuckDB oracle can
    * unroll the identical k−1 selection rounds.
    *
    * Scale shape: the state is (id, vector, dmin) where dmin is the
    * RUNNING min distance to the chosen centers — each round pays ONE
    * narrow distance map against the single newest center (k·dims
    * literals ride into codegen; no join), and [[graft.core.Iterate]]
    * materializes the state so round plans stay flat. The argmax and
    * the winner's vector are observed (`max_by` over (dmin, −id)) by the
    * job that materializes the round, so a round runs no action of its
    * own; one more action takes the seed's id and vector. Total cost k
    * scans — the textbook lower bound for exact greedy k-center — vs the
    * naive rebuild-dmin-per-round k² scans. Selected centers are k
    * driver rows by construction.
    *
    * @return one row per selected center: (round 1..k, center_id,
    *         radius) where radius = the center's distance to the
    *         previously-chosen set at selection time (0 for round 1);
    *         max(radius) over rounds 2..k is the standard k-center
    *         cost certificate (every point is within that distance of
    *         a center chosen before it).
    */
  def kCenterSelect(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"kCenterSelect: k must be >= 1, got $k")
    val spark = emb.sparkSession
    val base = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    def vector(r: Row, i: Int) = r.getSeq[Float](i).map(_.toDouble)
    val seed = base.orderBy(col("id").asc_nulls_last).limit(1).head()
    val selected = scala.collection.mutable.ArrayBuffer(
      (1L, seed.getLong(0), 0.0))
    val farthest = Seq(max_by(struct(col("id"), col("v"), col("dm")),
      struct(col("dm"), -col("id"))).as("far"))
    // the farthest point of a round's observed metric is the next
    // center; returns its vector
    def pick(m: Map[String, Any]): Seq[Double] = {
      val far = m("far").asInstanceOf[Row]
      selected += ((selected.size + 1L, far.getLong(0), far.getDouble(2)))
      vector(far, 1)
    }
    def centerDist(v: Seq[Double]): Column = sqDistExact(col("v"), v)
    if (k >= 2) {
      val (init, m0) = Iterate.measure(
        base.withColumn("dm", centerDist(vector(seed, 1))), farthest)
      // round r folds center r+1's distance into dm; the last center
      // needs no fold
      val (_, last) = Iterate.carry(init, m0, k - 2, farthest) { (state, m) =>
        state.withColumn("dm", least(col("dm"), centerDist(pick(m))))
      }
      pick(last)
    }
    spark.createDataFrame(selected.toSeq)
      .toDF("round", "center_id", "radius")
  }

  /** PCA top component by power iteration — the first principal axis of
    * the embedding cloud, with the per-dimension means/variances and the
    * explained-variance ratio: the measurement behind embedding
    * WHITENING and dimension-reduction decisions (a dominant axis
    * carrying most of the variance is exactly what hurts cosine
    * retrieval — the "all embeddings share a huge common direction"
    * pathology — and what [[sim_recall_matryoshka]]-style truncation
    * silently depends on).
    *
    * Scale split, the [[graft.ops.BpeTrain]] discipline: the ONLY
    * corpus-sized work is one moment pass — each row explodes to its
    * dims(dims+1)/2 upper-triangle products, per-dim values, and a
    * count marker, all map-side-combined into dims²/2 + dims + 1
    * decimal cells (each term staged through DECIMAL(38,14), so every
    * moment is exact and order-independent). The dims×dims eigensolve
    * is then driver-local bounded math — `iters` power-iteration rounds
    * over the collected matrix, every sum staged through
    * scale-14-HALF_UP BigDecimal so the driver replays EXACTLY the
    * decimal-staged arithmetic the SQL oracle runs, making pc1, the
    * eigenvalue, and the explained fraction hash-checkable doubles.
    *
    * @return one row per dimension (1-based, ordered): (dim, mean,
    *         variance, pc1, eigenvalue, explained_frac) — eigenvalue =
    *         v'Cv of the final iterate, explained_frac = eigenvalue /
    *         trace(C).
    */
  /** 2^50 — the exact power-of-two scale [[pcaTopComponent]]'s mean
    * staging uses (exactly representable; x·2^50 is integer-valued for
    * every normal float with |x| ≥ 2^-27, making the decimal cast
    * rounding-free in any engine).
    */
  private val Pca2to50: Double = java.lang.Math.scalb(1.0, 50)
  private val Pca2to100: Double = java.lang.Math.scalb(1.0, 100)

  /** Driver-side PCA state: per-dim means, the dims×dims covariance,
    * the final power iterate, its Rayleigh eigenvalue, and trace(C) —
    * every double produced by the engine-replayable arithmetic
    * [[pcaTopComponent]] documents, shared with [[pcaSampleGate]].
    */
  private[ops] final case class PcaModel(mu: Array[Double],
      c: Array[Array[Double]], vec: Array[Double], lam: Double,
      trace: Double)

  /** Plain double LEFT FOLD in index order — the one summation shape
    * DuckDB replays exactly with list_reduce(list(term ORDER BY idx)).
    */
  private def pcaFoldSum(xs: Iterator[Double]): Double = xs.reduce(_ + _)

  def pcaTopComponent(emb: DataFrame, vecCol: String, dims: Int,
                      iters: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    val m = pcaModel(emb, vecCol, dims, iters)
    import spark.implicits._
    (0 until dims).map(i =>
        ((i + 1).toLong, m.mu(i), m.c(i)(i), m.vec(i), m.lam,
          m.lam / m.trace))
      .toDF("dim", "mean", "variance", "pc1", "eigenvalue",
        "explained_frac")
      .orderBy("dim")
  }

  /** One corpus pass: the exact scaled moment sums via the custom
    * [[graft.functions.MomentMatrix]] aggregate (a flat 128-bit-integer
    * buffer — the explode-free form of "each factor scales by 2^50 into
    * DECIMAL(19,0), the decimal multiply is exact, the cell sum is
    * xi·xj·2^100 as a perfect integer"; the aggregate's Scaladoc and
    * MomentMatrixSpec pin bit-equality to that Column formulation,
    * which the DuckDB oracles replay). Means ride in the same buffer:
    * x·2^50 is an exact power-of-two rescale, integer-valued for any
    * normal float |x| ≥ 2^-27, so the staging is rounding-free in any
    * engine — raw floats are the one input class where 14-dp decimal
    * staging would be ENGINE-DIVERGENT (shortest-repr ties, measured
    * at ~0.06%), which is why the integer path exists.
    */
  private[ops] def pcaModel(emb: DataFrame, vecCol: String, dims: Int,
                            iters: Int): PcaModel = {
    require(dims >= 2 && iters >= 1, "need >= 2 dims and >= 1 iteration")
    val raw = emb.agg(graft.functions.MomentMatrix
        .momentMatrix(col(vecCol), dims).as("m"))
      .collect()(0).getSeq[java.math.BigDecimal](0)
    pcaSolve(raw, dims, iters)
  }

  /** Driver-local eigensolve on the dims×dims matrix. Two exactness
    * disciplines: (1) the decimal→double finish of the collected
    * moments is NOT BigDecimal.doubleValue (correctly rounded — which
    * the engines are NOT): both Spark's executor cast and DuckDB
    * convert as double(unscaled) / double(10^scale), so the driver
    * replays that two-step form; (2) every iteration sum is a plain
    * double LEFT FOLD in index order — no decimal staging at all —
    * which the oracle replicates exactly with
    * list_reduce(list(term ORDER BY idx), (a,b) -> a + b).
    *
    * `raw` is [[graft.functions.MomentMatrix]]'s layout: upper-triangle
    * products ·2^100 (row-major, i ≤ j), means ·2^50, count.
    */
  private def pcaSolve(raw: Seq[java.math.BigDecimal], dims: Int,
                       iters: Int): PcaModel = {
    import java.math.{BigDecimal => JBD}
    val cells = dims * (dims + 1) / 2
    def cellIdx(i: Int, j: Int): Int = i * dims - i * (i - 1) / 2 + (j - i)
    def decToDouble(b: JBD): Double =
      if (b.scale == 0) b.unscaledValue().doubleValue()
      else b.unscaledValue().doubleValue() / 1e14
    // count is a small exact integer either way
    val nD = raw(cells + dims).doubleValue()
    require(nD > 0, "empty embedding relation")
    def foldSum(xs: Iterator[Double]): Double = pcaFoldSum(xs)
    val mu = Array.tabulate(dims)(i =>
      decToDouble(raw(cells + i)) / nD / Pca2to50)
    val c = Array.tabulate(dims, dims) { (i, j) =>
      val (a, b) = (math.min(i, j), math.max(i, j))
      decToDouble(raw(cellIdx(a, b))) / nD / Pca2to100 - mu(i) * mu(j)
    }
    var vec = Array.fill(dims)(1.0)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dims)(i =>
        foldSum((0 until dims).iterator.map(j => c(i)(j) * vec(j))))
      val norm = math.sqrt(foldSum(w.iterator.map(x => x * x)))
      vec = w.map(_ / norm)
    }
    val cv = Array.tabulate(dims)(i =>
      foldSum((0 until dims).iterator.map(j => c(i)(j) * vec(j))))
    val lam = foldSum((0 until dims).iterator.map(i => cv(i) * vec(i)))
    val trace = foldSum((0 until dims).iterator.map(i => c(i)(i)))
    PcaModel(mu, c, vec, lam, trace)
  }

  /** The sampled-moments gate for [[pcaTopComponent]] — the 100 TB
    * variant (mirroring the k-means train/assign split): at scale the
    * dims²-cell moment pass runs on a deterministic SAMPLE, not the
    * corpus, so this measures what that costs. It fits pc1 twice —
    * once on the full relation, once on `sampleFilter` rows — and
    * scores the sampled direction ON THE FULL covariance (Rayleigh
    * quotient v_s'·C_full·v_s): `ev_sample_on_full` is the fraction of
    * true corpus variance the sample-fitted axis explains, directly
    * comparable to `ev_full`. A small |delta| certifies the sample was
    * enough; `pc1_align` (|v_s·v_f|) is reported alongside but the
    * gate is the variance delta — in a flat spectrum the top DIRECTION
    * is genuinely unstable while the explained fraction is not, and
    * whitening decisions consume the fraction.
    *
    * Same replayable arithmetic as the parent (decimal-staged moments,
    * ordered double folds), so every output double hash-matches the
    * oracle's unrolled CTE replay.
    */
  def pcaSampleGate(emb: DataFrame, sampleFilter: Column, vecCol: String,
                    dims: Int, iters: Int = 8,
                    evDeltaBound: Double = 0.02): DataFrame = {
    val spark = emb.sparkSession
    // ONE corpus pass fits both models: the full moments and the
    // sample's moments are two MomentMatrix aggregates over the same
    // scan (the sample side sees `when(filter, vec)` — null inputs are
    // skipped, which IS aggregation over the filtered relation, and
    // the 128-bit integer sums are order-independent so the result is
    // bit-identical to a separate filtered pass).
    require(dims >= 2 && iters >= 1, "need >= 2 dims and >= 1 iteration")
    val mm = graft.functions.MomentMatrix
    val row = emb.agg(
        mm.momentMatrix(col(vecCol), dims).as("mf"),
        mm.momentMatrix(when(sampleFilter, col(vecCol)), dims).as("ms"))
      .collect()(0)
    val full = pcaSolve(row.getSeq[java.math.BigDecimal](0), dims, iters)
    val samp = pcaSolve(row.getSeq[java.math.BigDecimal](1), dims, iters)
    val w = Array.tabulate(dims)(i =>
      pcaFoldSum((0 until dims).iterator.map(j => full.c(i)(j) * samp.vec(j))))
    val rayleigh = pcaFoldSum(
      (0 until dims).iterator.map(i => w(i) * samp.vec(i)))
    val evFull = full.lam / full.trace
    val evSampleOnFull = rayleigh / full.trace
    val delta = math.abs(evFull - evSampleOnFull)
    val align = math.abs(pcaFoldSum(
      (0 until dims).iterator.map(i => full.vec(i) * samp.vec(i))))
    import spark.implicits._
    Seq((evFull, evSampleOnFull, delta, align, delta <= evDeltaBound))
      .toDF("ev_full", "ev_sample_on_full", "ev_delta", "pc1_align",
        "ev_ok")
  }

  // ---- Trained k-means coarse quantizer ----------------------------------

  private val KmDec = org.apache.spark.sql.types.DecimalType(30, 14)

  /** Decimal-exact squared L2 distance of a vector column to a literal
    * centroid (same order-independent accumulation recipe as
    * [[Dedup.dotExact]], so both engines compute the identical double).
    */
  def sqDistExact(vecCol: Column, cent: Seq[Double]): Column =
    aggregate(
      zip_with(vecCol, typedlit(cent), (x, c) => {
        val d = x.cast("double") - c
        (d * d).cast(KmDec)
      }),
      lit(0).cast(KmDec), (acc, x) => (acc + x).cast(KmDec)).cast("double")

  /** Index of the nearest centroid by exact squared L2, ties to the lowest
    * cluster id. TWO-PHASE (the embeddingNearDups/topKNbrEdges recipe,
    * applied to argmin): phase 1 ranks all k centroids with the
    * codegen'd double [[graft.functions.SqDist]] (a tight primitive
    * loop; the interpreted per-element DECIMAL HOF of [[sqDistExact]]
    * was k×dims decimal ops per ROW — the dominant cost of every
    * trained-quantizer query). If the runner-up's fast distance exceeds
    * the winner's by a relative 1e-9 margin the fast winner IS the
    * exact winner (difference-then-square keeps SqDist's relative error
    * ~n·2⁻⁵², and |d_fast − d_exact| ≪ margin·d); only AMBIGUOUS rows —
    * near-ties, including genuine exact ties — fall through to the
    * decimal argmin, so the assignment is bit-identical to the pure
    * decimal form the DuckDB oracles replay (spec-pinned in
    * SimilaritySpec), at codegen speed for the ~all-rows common case.
    */
  def nearestCluster(vecCol: Column, cents: Seq[Seq[Double]]): Column =
    // k=1: nothing to rank — and getItem(1) on a 1-element array
    // THROWS under ANSI mode (Spark 4 default), it is not null
    if (cents.size == 1) lit(0)
    else {
      val fastSorted = array_sort(array(cents.zipWithIndex.map { case (c, i) =>
        struct(graft.functions.VectorOps.sqDist(vecCol, typedlit(c)).as("d"),
          lit(i).as("c"))
      }: _*))
      val d0 = fastSorted.getItem(0).getField("d")
      val d1 = fastSorted.getItem(1).getField("d")
      // Margin has BOTH a relative and an absolute term. Relative
      // (d0·1e-9) covers SqDist's own ~n·2⁻⁵² relative error vs the
      // true distance. Absolute covers the fallback's DIFFERENT error
      // model: sqDistExact stages each squared term at DECIMAL scale 14
      // (±5e-15 per term, ±dims·5e-15 per distance — ABSOLUTE, not
      // relative), so for tiny distances two true values inside the
      // relative margin can still TIE or reorder after quantization and
      // the exact argmin then breaks the tie by id. dims·4e-14 (≥ 4×
      // the two-distance quantization bound) forces every such row to
      // the exact branch. Degenerate vectors (null element / length
      // mismatch) give null SqDist → null comparison → exact branch,
      // matching zip_with's null propagation by construction.
      val absEps = cents.head.size * 4e-14
      when(d1 > d0 + d0 * lit(1e-9) + lit(absEps),
          fastSorted.getItem(0).getField("c"))
        .otherwise(nearestClusterExact(vecCol, cents))
    }

  /** The pure decimal-exact argmin (the oracle's arithmetic) — the
    * fallback phase of [[nearestCluster]] and the reference formulation
    * its spec pins against.
    */
  private[ops] def nearestClusterExact(vecCol: Column,
                                       cents: Seq[Seq[Double]]): Column =
    array_sort(array(cents.zipWithIndex.map { case (c, i) =>
      struct(sqDistExact(vecCol, c).as("d"), lit(i).as("c"))
    }: _*)).getItem(0).getField("c")

  /** Lloyd's k-means over the embedding column — the trained coarse
    * quantizer behind [[ivfTrainedTopK]], expressed entirely as DataFrame
    * ops. Deterministic and oracle-expressible by construction:
    *
    *  - init: the k vectors with the smallest ids (no RNG state to ship);
    *  - a FIXED iteration count (no data-dependent stopping rule);
    *  - assignment: argmin of decimal-exact squared L2, ties to the
    *    lowest cluster id;
    *  - update: decimal-exact per-dimension mean; a cluster that loses all
    *    members carries its previous centroid forward.
    *
    * Scale shape: each iteration is one NARROW assignment map (centroids
    * ride along as literals — k·dims doubles, never a join) plus one
    * k·dims aggregate collected to the driver. Nothing grows with the
    * data but the passes themselves; at 100 TB you run the iterations on
    * a sample and one final assignment pass over the corpus — which is
    * exactly the [[kmeansAssign]] call with `train` passed as the sample.
    *
    * Returns the centroids after `iters` updates, ordered by cluster id.
    */
  def kmeansCentroids(train: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): Seq[Seq[Double]] = {
    require(k >= 1 && iters >= 0, "k >= 1, iters >= 0")
    // iters+1 jobs re-read the training projection (seed collect + one
    // per Lloyd update) — cache the two columns that matter, released by
    // the harness like every other internal persist
    val proj = graft.core.Caches.track(train.select(col(idCol), col(vecCol)))
    // element-type-agnostic: raw embeddings are float arrays, residual
    // vectors (IVFADC) arrive as double arrays — both widen exactly
    val seeds: Seq[Seq[Double]] = proj.orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue).toSeq).toSeq
    require(seeds.size == k, s"need at least $k rows to seed $k clusters")
    var cents = seeds
    for (_ <- 1 to iters) {
      val updated: Map[Int, Seq[Double]] = proj
        .withColumn("__g_c", nearestCluster(col(vecCol), cents))
        .select(col("__g_c"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("__g_c"), col("pos"))
        .agg((sum(col("x").cast("double").cast(KmDec)).cast("double") /
          count(lit(1))).as("c"))
        .groupBy(col("__g_c"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")).as("centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
      cents = cents.zipWithIndex.map { case (prev, i) =>
        updated.getOrElse(i, prev) // empty cluster: carry forward
      }
    }
    cents
  }

  /** Tag every row with its trained cluster: k-means on `train` (defaults
    * to `emb` itself; pass a sample at scale), then one narrow assignment
    * map over `emb`.
    */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int, outCol: String = "kmeans_cluster",
                   train: Option[DataFrame] = None): DataFrame = {
    val cents = kmeansCentroids(train.getOrElse(emb), idCol, vecCol, k, iters)
    emb.withColumn(outCol, nearestCluster(col(vecCol), cents))
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication by trained
    * k-means blocking — train the quantizer, score cosine pairs ONLY
    * within each cluster, and drop every vector that has a "better"
    * τ-close neighbor in its cluster. "Better" is the SemDeDup keep
    * criterion: LOWER cosine to the cluster centroid (the survivor of
    * each semantic-duplicate neighborhood is its most atypical member,
    * preserving diversity), ties to the lower id. The rule is the
    * EXISTS form — x is dropped iff some τ-close y beats it — so in a
    * duplicate chain a⇠b⇠c the middle link b both drops (a beats it)
    * and causes c to drop; exactly one extreme representative of every
    * τ-connected neighborhood always survives.
    *
    * Plan shape at 100 TB: identical to [[graft.ops.Dedup.embeddingNearDups]]
    * (which scores the pairs): nothing all-pairs — the join is blocked
    * by the trained cluster, hot clusters split via `subBlocks`
    * (1-Bucket-Theta replication), and the cheap double cosine prunes
    * before the exact decimal rescore. The added machinery is one
    * broadcast join against the (k × dims) centroid relation for the
    * keep-criterion column and an id-keyed semi-join of the drop set —
    * nothing new shuffles on the corpus.
    *
    * Output: one row per input vector — (id, cluster, cent_cos, kept),
    * id-ascending.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    kClusters: Int, iters: Int, threshold: Double,
                    subBlocks: Int = 1): DataFrame = {
    val spark = emb.sparkSession
    // The trained means carry the JVM shortest-string double→decimal cast
    // drift (Spark rounds BigDecimal.valueOf's 17-digit repr where DuckDB
    // rounds the exact binary expansion — the discrepancy the BM25 score
    // quantization exists for): measured, ~3% of centroid dims differ in
    // the last ulp. cent_cos exposes centroid values directly, so pin
    // them to the 1e-9 grid BEFORE any downstream math — a 9-digit
    // double's decimal cast is exact in BOTH engines, making every
    // assignment, dot and norm bit-identical by construction rather than
    // probabilistically. 1e-9 is far below any semantic-duplicate
    // threshold's meaningful resolution.
    val cents = kmeansCentroids(emb, idCol, vecCol, kClusters, iters)
      .map(_.map(quantize9))
    // feeds the pair join AND the keep-criterion/output projections —
    // cache so assignment isn't recomputed from three corpus scans
    val assigned = graft.core.Caches.track(
      emb.select(col(idCol), col(vecCol))
        .withColumn("__g_cluster", nearestCluster(col(vecCol), cents)))
    // cent_cos via ORDERED double folds, not the decimal-cast dot: the
    // fold runs WITHIN one row over array elements in fixed order, so
    // plain double addition is bit-deterministic in any engine spelling
    // the same left fold (oracle: list_reduce) — and it sidesteps the
    // per-element double→decimal cast, whose rounding is NOT
    // engine-portable for full-mantissa products (Spark rounds the
    // shortest-string repr, DuckDB the exact binary value). The decimal
    // idiom remains necessary only for cross-ROW sums, where Spark's
    // partial-aggregation order is nondeterministic.
    val dotOrd = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val withCc = assigned
      .join(broadcast(centroidsDf(spark, cents)),
        col("__g_cluster") === col("cluster"))
      .select(col(idCol), col("cluster").cast("long").as("cluster"),
        (dotOrd(col(vecCol), col("centroid")) /
          (sqrt(dotOrd(col(vecCol), col(vecCol))) *
            sqrt(dotOrd(col("centroid"), col("centroid")))))
          .as("cent_cos"))
    val pairs = Dedup.embeddingNearDups(assigned, idCol, vecCol,
      "__g_cluster", threshold, subBlocks)
    val cc = withCc.select(col(idCol).as("__cid"), col("cent_cos").as("__cc"))
    // each τ-close pair drops its worse member (higher cent_cos; tie →
    // higher id): the pair relation is the bounded near-dup set, and the
    // two criterion lookups are id-keyed joins
    val dropped = pairs
      .join(cc.select(col("__cid").as("id_a"), col("__cc").as("__cc_a")), "id_a")
      .join(cc.select(col("__cid").as("id_b"), col("__cc").as("__cc_b")), "id_b")
      .select(when(col("__cc_a") < col("__cc_b") ||
          (col("__cc_a") === col("__cc_b") && col("id_a") < col("id_b")),
        col("id_b")).otherwise(col("id_a")).as("__dropped"))
      .distinct()
    withCc.join(dropped, withCc(idCol) === dropped("__dropped"), "left")
      .select(withCc(idCol), col("cluster"), col("cent_cos"),
        col("__dropped").isNull.as("kept"))
      .orderBy(col(idCol))
  }

  /** The IVF layout AT REST — the physical half of every "PARTITIONED BY
    * cluster" claim in this file: write the table partitioned by its
    * trained assignment (one directory per cluster) with the centroids
    * saved beside it as a tiny parquet (exact binary doubles — a JSON
    * roundtrip could wobble a ULP and flip shortlist ordering). After
    * this rewrite a probe is a partition-pruned scan: files of
    * non-probed clusters are never opened.
    *
    * The data lives in `batch=<id>/ivf_cluster=<c>` subdirectories (the
    * [[graft.ops.Retrieval]] batch-structured maintenance pattern): a
    * fresh build is batch 0, [[ivfAppendLayout]] adds later batches
    * against the SAME persisted centroids, and each batch write ends
    * with a commit marker the probe filters on — so a crashed or
    * in-flight batch is invisible until its (idempotent, same-id) retry,
    * and ingesting new embeddings never rewrites the table.
    */
  def ivfWriteLayout(emb: DataFrame, idCol: String, vecCol: String,
                     path: String, kClusters: Int, iters: Int,
                     trainedCents: Option[Seq[Seq[Double]]] = None): Seq[Seq[Double]] = {
    import org.apache.spark.sql.SaveMode
    val spark = emb.sparkSession
    // a fresh build owns the directory: clear previous batches + markers
    layoutStore(spark, path).reset()
    // trainedCents: the one-training-many-consumers seam the scan-path
    // probes already have — build the layout from a sample-trained or
    // previously trained quantizer instead of an in-builder full train
    val cents = trainedCents.getOrElse(
      kmeansCentroids(emb, idCol, vecCol, kClusters, iters))
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cluster", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(centroidsPath(path))
    writeLayoutBatch(emb, idCol, vecCol, path, cents, batchId = 0L)
    cents
  }

  /** Incremental maintenance for the at-rest IVF layout: assign a NEW
    * batch of embeddings with the centroids persisted by
    * [[ivfWriteLayout]] (no retraining — the quantizer is the index's
    * identity; the serve-side guarantee is "same answer as one
    * assignment pass over the union") and write it under its own
    * `batch=<id>` subdirectory with overwrite semantics plus a commit
    * marker. Crash anywhere → the batch stays invisible; retry the SAME
    * batch id → exactly its own subtree is rewritten and re-marked
    * (idempotent, the [[graft.core.BatchLedger]] integration contract).
    * Caller owns id-disjointness of batches, as in
    * [[Retrieval.appendToIndex]]. At 100 TB this is the difference
    * between per-ingest cost proportional to the BATCH and a full-table
    * re-cluster + rewrite per ingest.
    */
  def ivfAppendLayout(emb: DataFrame, idCol: String, vecCol: String,
                      path: String, batchId: Long): Unit = {
    require(batchId > 0, "batch 0 is the full build; appends use fresh ids")
    writeLayoutBatch(emb, idCol, vecCol, path,
      readCentroids(emb.sparkSession, path), batchId)
  }

  /** The persisted coarse quantizer, ordered by cluster id. */
  def readCentroids(spark: SparkSession, path: String): Seq[Seq[Double]] =
    Tables.parquet(spark, centroidsPath(path))
      .orderBy("cluster").collect()
      .map(_.getSeq[Double](1).toSeq).toSeq

  private def writeLayoutBatch(emb: DataFrame, idCol: String, vecCol: String,
                               path: String, cents: Seq[Seq[Double]],
                               batchId: Long): Unit =
    layoutStore(emb.sparkSession, path).write(batchId,
      emb.withColumn("ivf_cluster", nearestCluster(col(vecCol), cents)))

  /** The IVF and IVFADC layouts' units: one `data` part, one directory
    * per cluster. Build, append and compaction all write through it
    * (drift would break the serve-identical guarantee); its empty-unit
    * guard keeps a fully-deleted, compacted layout serving empty. */
  private def layoutStore(spark: SparkSession, path: String): IndexCommits.Store =
    IndexCommits.Store(spark, path,
      Seq(IndexCommits.Part("data", partitionBy = Some("ivf_cluster"))))

  /** Tombstone-delete embeddings from the at-rest layout — the vector
    * side of [[Retrieval.deleteFromIndex]], same marker discipline via
    * the shared [[graft.core.IndexCommits]] state machine. A delete
    * batch is just the id list (the probe has no corpus stats to
    * maintain — scoring is per-row cosine), written under
    * `tombstones/batch=<id>` and committed with a `del_<id>` marker;
    * [[ivfProbeLayout]] anti-joins committed tombstones AFTER partition
    * pruning, so the join input is the probed clusters' rows only.
    * Embedding tables index PII-bearing content (a document's vector is
    * as identifying as its text), so the right-to-be-forgotten path
    * matters here exactly as much as on the text index.
    * Idempotent/crash-safe: unmarked batch invisible, same-id retry
    * overwrites, committed retry no-ops. Caller invariant (as
    * everywhere): a deleted id is not re-ingested while its tombstone
    * is live.
    */
  def ivfDeleteLayout(ids: DataFrame, idCol: String, path: String,
                      batchId: Long): Unit =
    layoutStore(ids.sparkSession, path)
      .delete(batchId, ids.select(col(idCol)).distinct())

  /** Compact the at-rest IVF layout: fold every served batch minus the
    * served tombstones into ONE fresh batch (per-cluster partitioning
    * preserved — rows keep their persisted assignment, no reassignment
    * and no centroid change), committed by the shared atomic
    * supersede-marker rename. Reclaims the per-probe tombstone
    * anti-join and the per-append small files; a crash before the
    * rename leaves the old state served (the [[Retrieval.compactIndex]]
    * contract, spec-pinned here too).
    */
  def ivfCompactLayout(spark: SparkSession, path: String, idCol: String,
                       newBatchId: Long): Unit = {
    val store = layoutStore(spark, path)
    store.compact(newBatchId)(state =>
      Seq(store.served(state, idCol = Some(idCol)).drop("batch")))
  }

  /** Sweep superseded layout batches and tombstones (shared
    * [[graft.core.IndexCommits.vacuum]]). */
  def ivfVacuumLayout(spark: SparkSession, path: String): Int =
    layoutStore(spark, path).vacuum()

  /** The served layout relation: committed batches, committed
    * tombstones anti-joined away. Keeps the `batch` and `ivf_cluster`
    * partition columns (callers prune/drop as needed).
    */
  private def servedRows(spark: SparkSession, path: String, idCol: String,
                         asOf: Long = Long.MaxValue): DataFrame = {
    val store = layoutStore(spark, path)
    store.served(store.snapshot(asOf), idCol = Some(idCol))
  }

  private def centroidsPath(path: String): String =
    path.stripSuffix("/") + "_centroids"

  /** Probe the at-rest IVF layout: rank the saved centroids by cosine to
    * the query (tiny scan), shortlist `nprobe` clusters, then top-k over
    * ONLY the shortlisted partitions — the `isin` filter on the partition
    * column prunes at the scan (spec pins the selected-partition count),
    * so at 100 TB a probe touches nprobe/k of the files no matter how
    * large the table grows.
    */
  def ivfProbeLayout(spark: SparkSession, path: String, query: Seq[Float],
                     k: Int, nprobe: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     pred: Column = lit(true),
                     asOf: Long = Long.MaxValue): DataFrame = {
    val qd = query.map(_.toDouble)
    val clusters = Tables.parquet(spark, centroidsPath(path))
      .select(col("cluster"),
        (Dedup.dotExact(col("centroid"), typedlit(qd)) /
          (Dedup.normExact(col("centroid")) * Dedup.normExact(typedlit(qd))))
          .as("ccos"))
      .orderBy(col("ccos").desc, col("cluster"))
      .limit(nprobe)
      .select("cluster").collect().map(_.getInt(0))
    // asOf < MaxValue = TIME-TRAVEL probe (the text index's
    // servedStateAsOf contract — ONE state machine serves both indexes,
    // so the vector layout gets the same monotone-prefix replay for
    // free; centroids are the index's immutable identity and need no
    // versioning)
    servedRows(spark, path, idCol, asOf)
      // both are partition columns: uncommitted/superseded batches and
      // non-probed clusters prune at the scan, before any file opens
      // (the cluster predicate pushes below the tombstone anti-join);
      // `pred` (metadata-filtered ANN, see ivfTrainedTopKFiltered) is a
      // data predicate on the same scan — a parquet PushedFilter inside
      // the surviving nprobe directories, spec-pinned
      .filter(col("ivf_cluster").isin(clusters.map(Integer.valueOf): _*))
      .filter(pred)
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Batch probe over the at-rest IVF layout: serve a whole ANCHOR
    * BATCH from the persisted index in one pass — per-anchor nprobe
    * shortlists computed on the tiny (clusters × anchors) relation
    * against the SAVED centroids, the scan pruned to the UNION of
    * probed cluster partitions (files of unprobed clusters never open),
    * and each row scored against exactly the anchors probing its
    * cluster (broadcast shortlist join + the TopKByKey aggregate, ≤k
    * rows per task-anchor across the exchange). The batched analogue of
    * [[ivfProbeLayout]], and the serving shape a training job actually
    * uses: one index scan for the whole batch, not a probe per anchor.
    * Anchor vectors are looked up in the layout itself by id (one
    * unpruned metadata-light scan, bounded output).
    */
  def ivfProbeLayoutBatch(spark: SparkSession, path: String,
                          anchorIds: Seq[Long], k: Int, nprobe: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = readCentroids(spark, path)
    val rows = servedRows(spark, path, idCol)
    val nrm = (c: Column) => greatest(Dedup.normExact(c), lit(1e-30))
    val anchors = rows.filter(col(idCol).isin(anchorIds: _*))
      .select(col(idCol).as("anchor_id"), col(vecCol).as("__avec"),
        nrm(col(vecCol)).as("__anrm"))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("__ccos").desc, col("cluster"))
    // cached: the shortlist feeds the driver-side partition list AND the
    // broadcast scoring join — one computation of the anchors scan
    val shortlist = graft.core.Caches.track(
      centroidsDf(spark, cents).crossJoin(anchors)
        .select(col("anchor_id"), col("cluster"), col("__avec"),
          col("__anrm"),
          (Dedup.dotExact(col("centroid"), col("__avec")) /
            (Dedup.normExact(col("centroid")) * col("__anrm"))).as("__ccos"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= nprobe)
        .select("anchor_id", "cluster", "__avec", "__anrm"))
    // the union of probed clusters, as LITERALS: prunes partitions at
    // the scan (anchors × nprobe values — tiny by construction)
    val probed = shortlist.select("cluster").distinct()
      .collect().map(r => Integer.valueOf(r.getInt(0)))
    val scored = rows
      .filter(col("ivf_cluster").isin(probed: _*))
      .withColumn("__nrm", nrm(col(vecCol)))
      .join(broadcast(shortlist), col("ivf_cluster") === col("cluster"))
      .select(col("anchor_id"),
        (Dedup.dotExact(col(vecCol), col("__avec")) /
          (col("__nrm") * col("__anrm"))).as("__cos"),
        col(idCol))
    rankedFromTopK(scored, idCol, k)
  }

  /** The recall-vs-nprobe SWEEP over the at-rest IVF layout — the curve
    * an index tuner actually needs (one fixed operating point per gate
    * tells you pass/fail; the curve tells you WHERE to operate). One
    * pass for every operating point:
    *
    *  1. the [[ivfProbeLayoutBatch]] clusters×anchors shortlist is
    *     ranked ONCE and kept to rank ≤ max(nprobes) (`__crn` = the
    *     cluster's shortlist rank for that anchor);
    *  2. ONE scan, pruned to the union of partitions any operating
    *     point probes, scores candidates tagged with `__crn`;
    *  3. a TopKByKey aggregate bounds the relation to k rows per
    *     (anchor, cluster-rank TIER) — sound because the union of tiers
    *     ≤ p can only rank rows that are top-k within their own tier —
    *     so everything after ONE exchange is anchors × maxNprobe × k;
    *  4. each operating point is a rank filter over that same bounded
    *     relation (`__crn` ≤ nprobe, re-rank, keep k), compared against
    *     ONE exact ground truth per anchor.
    *
    * At 100 TB the sweep therefore costs one probe-batch scan + one
    * ground-truth scan regardless of how many operating points it
    * evaluates — never a scan per nprobe. Output: one row per operating
    * point (nprobe, k, n_anchors, mean_recall), the [[recallAtKBatch]]
    * mean per point.
    */
  def ivfRecallSweepLayout(spark: SparkSession, path: String,
                           anchorIds: Seq[Long], k: Int, nprobes: Seq[Int],
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1),
      "at least one operating point, each nprobe >= 1")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    import spark.implicits._
    val maxP = nprobes.max
    val cents = readCentroids(spark, path)
    val rows = servedRows(spark, path, idCol)
    val nrm = (c: Column) => greatest(Dedup.normExact(c), lit(1e-30))
    val anchors = rows.filter(col(idCol).isin(anchorIds: _*))
      .select(col(idCol).as("anchor_id"), col(vecCol).as("__avec"),
        nrm(col(vecCol)).as("__anrm"))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("__ccos").desc, col("cluster"))
    val shortlist = graft.core.Caches.track(
      centroidsDf(spark, cents).crossJoin(anchors)
        .select(col("anchor_id"), col("cluster"), col("__avec"),
          col("__anrm"),
          (Dedup.dotExact(col("centroid"), col("__avec")) /
            (Dedup.normExact(col("centroid")) * col("__anrm"))).as("__ccos"))
        .withColumn("__crn", row_number().over(w))
        .filter(col("__crn") <= maxP)
        .select("anchor_id", "cluster", "__crn", "__avec", "__anrm"))
    val probed = shortlist.select("cluster").distinct()
      .collect().map(r => Integer.valueOf(r.getInt(0)))
    val scored = rows
      .filter(col("ivf_cluster").isin(probed: _*))
      .withColumn("__nrm", nrm(col(vecCol)))
      .join(broadcast(shortlist), col("ivf_cluster") === col("cluster"))
      .select(col("anchor_id"), col("__crn"),
        (Dedup.dotExact(col(vecCol), col("__avec")) /
          (col("__nrm") * col("__anrm"))).as("__cos"),
        col(idCol))
    val tiered = scored.groupBy(col("anchor_id"), col("__crn"))
      .agg(graft.functions.TopKAgg.topK(col("__cos"), col(idCol), k).as("top"))
      .select(col("anchor_id"), col("__crn"), explode(col("top")).as("t"))
      .select(col("anchor_id"), col("__crn"), col("t.id").as(idCol),
        col("t.sort_key").as("__cos"))
    // ONE exact ground truth per anchor over the full served layout
    val exact = graft.core.Caches.track(rankedFromTopK(
      rows.withColumn("__nrm", nrm(col(vecCol)))
        .crossJoin(broadcast(anchors))
        .select(col("anchor_id"),
          (Dedup.dotExact(col(vecCol), col("__avec")) /
            (col("__nrm") * col("__anrm"))).as("__cos"),
          col(idCol)),
      idCol, k).select(col("anchor_id"), col(idCol)))
    val points = nprobes.toDF("nprobe")
    val wp = Window.partitionBy("anchor_id", "nprobe")
      .orderBy(col("__cos").desc, col(idCol))
    val approx = tiered.crossJoin(broadcast(points))
      .filter(col("__crn") <= col("nprobe"))
      .withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") <= k)
      .select(col("nprobe"), col("anchor_id"), col(idCol))
    val hits = approx.join(exact, Seq("anchor_id", idCol))
      .groupBy("nprobe", "anchor_id").agg(count(lit(1)).as("__hits"))
    val denom = exact.groupBy("anchor_id").agg(count(lit(1)).as("__n"))
    // points × anchors scaffold so a zero-hit (nprobe, anchor) cell
    // still contributes 0 to that point's mean instead of vanishing
    points.crossJoin(denom)
      .join(hits, Seq("nprobe", "anchor_id"), "left")
      .select(col("nprobe"),
        (coalesce(col("__hits"), lit(0L)).cast("double") /
          col("__n")).as("__recall"))
      .groupBy("nprobe")
      .agg(count(lit(1)).as("n_anchors"),
        (sum(col("__recall").cast(DecimalType(38, 14))).cast("double") /
          count(lit(1))).as("mean_recall"))
      .select(col("nprobe"), lit(k.toLong).as("k"), col("n_anchors"),
        col("mean_recall"))
      .orderBy("nprobe")
  }

  /** IVF ANN over the TRAINED quantizer (closing the loop the plain
    * [[ivfTopK]] leaves open — there the cluster column pre-exists): rank
    * the trained centroids by cosine to the query, keep `nprobe`, then
    * brute-force only rows whose trained assignment is on the shortlist.
    * At 100 TB the assignment column is written once (table PARTITIONED BY
    * cluster) and this probe prunes partitions at the scan.
    */
  /** The trained centroids as a 1-partition (cluster, centroid) relation
    * — the exact binary doubles, never a lossy literal roundtrip.
    */
  private def centroidsDf(spark: SparkSession,
                          cents: Seq[Seq[Double]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        cents.zipWithIndex.map { case (c, i) =>
          org.apache.spark.sql.Row(i, c)
        }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("centroid",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = false))))

  def ivfTrainedTopK(emb: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int, nprobe: Int,
                     kClusters: Int, iters: Int): DataFrame =
    ivfTrainedTopKFiltered(emb, idCol, vecCol, lit(true), query, k,
      nprobe, kClusters, iters)

  /** Metadata-FILTERED ANN over the trained quantizer: top-k among only
    * the rows satisfying `pred` — PRE-filter semantics (the predicate
    * restricts the candidate set before ranking), never the post-filter
    * truncation that silently returns fewer, worse neighbors. The
    * quantizer is trained on the FULL corpus: one index serves every
    * query's predicate, so the filter never forces a rebuild. The
    * predicate is an ordinary Catalyst filter on the probed rows —
    * pushed below the shortlist semi-join to the scan here, and on the
    * at-rest layout ([[ivfProbeLayout]]'s `pred`) it composes with
    * partition pruning: the scan opens only nprobe cluster directories
    * AND applies the predicate as a parquet PushedFilter inside them.
    * A highly selective predicate thins the probed clusters; callers
    * raise `nprobe` to restore recall (the standard filtered-ANN
    * trade-off — [[recallAtK]] gates it the same way as the unfiltered
    * indexes).
    */
  def ivfTrainedTopKFiltered(emb: DataFrame, idCol: String, vecCol: String,
                             pred: Column, query: Seq[Float], k: Int,
                             nprobe: Int, kClusters: Int,
                             iters: Int): DataFrame = {
    val spark = emb.sparkSession
    val cents = kmeansCentroids(emb, idCol, vecCol, kClusters, iters)
    val qd = query.map(_.toDouble)
    val shortlist = centroidsDf(spark, cents)
      .select(col("cluster"),
        (Dedup.dotExact(col("centroid"), typedlit(qd)) /
          (Dedup.normExact(col("centroid")) * Dedup.normExact(typedlit(qd))))
          .as("ccos"))
      .orderBy(col("ccos").desc, col("cluster"))
      .limit(nprobe)
      .select("cluster")
    val assigned = emb.filter(pred).withColumn("__g_cluster",
      nearestCluster(col(vecCol), cents))
    assigned.join(broadcast(shortlist),
        assigned("__g_cluster") === shortlist("cluster"), "left_semi")
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  // ---- Int8 quantization (PQ-lite) ---------------------------------------

  /** Per-vector symmetric int8 quantization scale: max|x| / 127 (floored
    * at 1e-30 so the all-zero vector quantizes to zeros instead of NaN).
    */
  def quantScale(vecCol: Column): Column =
    greatest(array_max(transform(vecCol, x => abs(x.cast("double")))),
      lit(1e-30)) / 127

  /** Quantized codes: round(x / scale) ∈ [-127, 127] as longs. `scaleCol`
    * must be staged as its own column first (inlining it re-runs the
    * array_max per element — higher-order funcs get no subexpression
    * elimination).
    */
  def quantCodes(vecCol: Column, scaleCol: Column): Column =
    transform(vecCol, x => round(x.cast("double") / scaleCol).cast("long"))

  /** Exact integer dot product of two code arrays (sequential long fold —
    * integer math, so order-independent and engine-exact).
    */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Quantized ANN with exact rescoring — the PQ-shaped memory/bandwidth
    * path at 100 TB (int8 codes are 4× smaller than float32; the scan and
    * the shortlist scoring touch only codes):
    *   1. quantize every vector (and the stored query vector) to int8;
    *   2. approximate cosine entirely in code space —
    *      dot_q(a,q) / (√dot_q(a,a) · √dot_q(q,q)) — the per-vector
    *      scales cancel out of the cosine, so no float rescale is needed;
    *   3. keep the top `rescore` candidates by (approx_sim, id) —
    *      TakeOrderedAndProject, never a global sort;
    *   4. exact decimal cosine on the survivors only; final top-k by it.
    * All arithmetic is integer sums, IEEE-double division, and decimal
    * rescoring — bit-reproducible in any engine (round() ties resolve
    * away from zero in both Spark and DuckDB).
    */
  def quantTopK(emb: DataFrame, idCol: String, vecCol: String,
                queryId: Long, k: Int, rescore: Int = 50): DataFrame = {
    def staged(df: DataFrame): DataFrame = df
      .withColumn("__scale", quantScale(col(vecCol)))
      .withColumn("__q", quantCodes(col(vecCol), col("__scale")))
      .withColumn("__qaa", intDot(col("__q"), col("__q")))
    val q = staged(emb.filter(col(idCol) === queryId))
      .select(col(vecCol).as("__qv"), col("__q").as("__qq"),
        col("__qaa").as("__qnn"))
    val short = staged(emb).crossJoin(broadcast(q))
      .filter(col("__qaa") > 0)
      .withColumn("approx_sim",
        intDot(col("__q"), col("__qq")).cast("double") /
          (sqrt(col("__qaa").cast("double")) * sqrt(col("__qnn").cast("double"))))
      .orderBy(col("approx_sim").desc, col(idCol))
      .limit(rescore)
    short
      .select(col(idCol), col("approx_sim"),
        (Dedup.dotExact(col(vecCol), col("__qv")) /
          (Dedup.normExact(col(vecCol)) * Dedup.normExact(col("__qv"))))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Sign bit-packing for binary embeddings: bit j (0-based) of the
    * result is set iff dimension `lo + j` of the vector is > 0, for 32
    * dimensions starting at 1-based index `lo`. Two 32-bit halves
    * instead of one 64-bit word because a value built only from shifts
    * 0..31 stays positive in any engine — `1 << 63` overflows signed
    * arithmetic in engines that check (DuckDB raises), while two
    * sub-2³² longs cross the Spark/SQL boundary untouched. Integer
    * fold, codegen'd, no UDF.
    */
  def signBits(vecColName: String, lo: Int): Column =
    expr(s"""aggregate(sequence($lo, ${lo + 31}), cast(0 as bigint),
            |  (acc, i) -> acc + IF(element_at($vecColName, cast(i as int)) > cast(0 as float),
            |                       shiftleft(cast(1 as bigint), cast(i as int) - $lo),
            |                       cast(0 as bigint)))""".stripMargin)

  /** Binary-embedding ANN (sign hash + Hamming distance + exact
    * rescoring) — the 32×-compression end of the quantization family
    * (one BIT per dimension vs int8's byte): pack every vector's sign
    * pattern into two 32-bit words, shortlist by Hamming distance
    * (bit_count of XOR — pure register arithmetic, the cheapest
    * possible scan predicate at 100 TB), then exact decimal cosine on
    * the survivors. Sign-random-projection theory (Charikar 2002) makes
    * Hamming distance on sign bits a cosine estimator, which is why the
    * shortlist ranked by it recalls true neighbors; the rescore tail
    * restores exactness. Same plan skeleton as [[quantTopK]]:
    * TakeOrderedAndProject shortlist (never a global sort), broadcast
    * 1-row query, codes-only arithmetic until the ≤`rescore` survivors.
    */
  def hammingTopK(emb: DataFrame, idCol: String, vecCol: String,
                  queryId: Long, k: Int, rescore: Int = 50): DataFrame = {
    def staged(df: DataFrame): DataFrame = df
      .withColumn("__blo", signBits(vecCol, 1))
      .withColumn("__bhi", signBits(vecCol, 33))
    val q = staged(emb.filter(col(idCol) === queryId))
      .select(col(vecCol).as("__qv"), col("__blo").as("__qlo"),
        col("__bhi").as("__qhi"))
    val short = staged(emb).crossJoin(broadcast(q))
      .withColumn("hamming",
        (expr("bit_count(__blo ^ __qlo)") + expr("bit_count(__bhi ^ __qhi)"))
          .cast("long"))
      .orderBy(col("hamming").asc, col(idCol))
      .limit(rescore)
    short
      .select(col(idCol), col("hamming"),
        (Dedup.dotExact(col(vecCol), col("__qv")) /
          (Dedup.normExact(col(vecCol)) * Dedup.normExact(col("__qv"))))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Recall-vs-rescore-budget curve for the binary sign-hash index in
    * ONE pass — the scan-path analogue of [[ivfRecallSweepLayout]]'s
    * nprobe sweep: the corpus is Hamming-ranked ONCE to max(budgets)
    * (TakeOrderedAndProject, never a global sort), each operating point
    * is then a rank filter over that same ≤max(budgets)-row shortlist
    * re-ranked by its exact cosine, and all points share ONE exact
    * ground truth. Three budgets cost one Hamming scan + one exact
    * scan, never a scan per point — the curve that answers "how much
    * rescore does 64 sign bits need", which is the tuning lever the
    * sim_recall_hamming gate names. All sweep arithmetic runs on the
    * bounded shortlist (windows over ≤max(budgets)·|budgets| rows).
    */
  def hammingRecallSweep(emb: DataFrame, idCol: String, vecCol: String,
                         queryId: Long, k: Int,
                         budgets: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxB = budgets.max
    def staged(df: DataFrame): DataFrame = df
      .withColumn("__blo", signBits(vecCol, 1))
      .withColumn("__bhi", signBits(vecCol, 33))
    val q = staged(emb.filter(col(idCol) === queryId))
      .select(col(vecCol).as("__qv"), col("__blo").as("__qlo"),
        col("__bhi").as("__qhi"))
    val short = staged(emb).crossJoin(broadcast(q))
      .withColumn("hamming",
        (expr("bit_count(__blo ^ __qlo)") + expr("bit_count(__bhi ^ __qhi)"))
          .cast("long"))
      .orderBy(col("hamming").asc, col(idCol))
      .limit(maxB)
      .select(col(idCol), col("hamming"),
        (Dedup.dotExact(col(vecCol), col("__qv")) /
          (Dedup.normExact(col(vecCol)) * Dedup.normExact(col("__qv"))))
          .as("__cos"))
    // bounded-relation windows from here down (≤ maxB rows)
    // partitionBy(lit(1)): the Retrieval.rankBounded idiom — the input is
    // ≤ maxB rows by the limit above, so one partition is the point, not
    // an accident worth a WindowExec warning
    val ranked = short.withColumn("rank",
      row_number().over(Window.partitionBy(lit(1))
        .orderBy(col("hamming").asc, col(idCol))))
    val pts = {
      val s = emb.sparkSession
      import s.implicits._
      budgets.sorted.toDF("budget")
    }
    val per = ranked.crossJoin(broadcast(pts))
      .filter(col("rank") <= col("budget"))
      .withColumn("__crn", row_number().over(
        Window.partitionBy(col("budget"))
          .orderBy(col("__cos").desc, col(idCol))))
      .filter(col("__crn") <= k)
    val qv = vectorOf(emb, idCol, vecCol, queryId)
    val exact = bruteForceTopK(emb, idCol, vecCol, qv, k)
      .select(col(idCol))
    val denom = exact.agg(count(lit(1)).as("__n"))
    val hits = per.join(exact, idCol)
      .groupBy(col("budget")).agg(count(lit(1)).as("hits"))
    pts.join(hits, Seq("budget"), "left")
      .crossJoin(broadcast(denom))
      .select(col("budget").cast("long").as("budget"),
        lit(k.toLong).as("k"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        when(col("__n") > 0,
          coalesce(col("hits"), lit(0L)).cast("double") / col("__n"))
          .otherwise(lit(0.0)).as("recall"))
      .orderBy(col("budget"))
  }

  /** Rademacher random-projection of a `dims`-dim vector column down to
    * `outDims` dims (Achlioptas 2003: a ±1 sign matrix satisfies the
    * Johnson–Lindenstrauss lemma — distances in the projected space
    * concentrate around the originals, so the projection is an ANN
    * shortlist metric). The sign s(i,j) is a fixed pseudo-random
    * function of the (row i, column j) index pair in pure INTEGER
    * arithmetic — `((i·37 + j·101) mod 97) mod 2` — so any engine
    * derives the identical matrix from the formula alone: no trained
    * state, no stored matrix, nothing to persist or broadcast. Each
    * output coordinate sums its 64 signed addends through
    * DECIMAL(38,14) (the repo-wide dotExact staging), so the projected
    * vectors are bit-identical cross-engine. The conventional 1/√d'
    * JL scaling is omitted on purpose: it is a constant factor on
    * every distance, so the shortlist ranking it feeds is unchanged.
    */
  def rademacherProj(vecColName: String, dims: Int, outDims: Int): Column = {
    import org.apache.spark.sql.types.DecimalType
    // LOSSLESS accumulation: Spark's Add on (38,14)+(38,14) adjusts the
    // result to (38,13) — a per-step rounding that drifts ~1e-13 from
    // DuckDB's exact 128-bit decimal sum (measured on this projection).
    // Keeping the accumulator at precision 30 and the addends at 24
    // makes Add resolve to (31,14): scale preserved, no precision-loss
    // adjustment, so the fold is the EXACT sum of the 1e-14-quantized
    // addends — bit-identical to sum(CAST(x AS DECIMAL(38,14))) in any
    // exact-decimal engine. Headroom: 16 integer digits carries sums to
    // 1e16, far above any unit-scale embedding.
    val accT = DecimalType(30, 14)
    val addT = DecimalType(24, 14)
    transform(sequence(lit(1), lit(outDims)), j =>
      aggregate(sequence(lit(1), lit(dims)),
        lit(0).cast(accT),
        (acc, i) => (acc +
          (element_at(col(vecColName), i.cast("int")).cast("double") *
            when(((i * 37 + j * 101) % 97) % 2 === 0, lit(1.0))
              .otherwise(lit(-1.0))).cast(addT)).cast(accT),
        _.cast("double")))
  }

  /** Random-projection ANN with exact rescoring — the dimensionality-
    * reduction member of the scan-path family ([[quantTopK]] shrinks
    * bits per dimension, [[hammingTopK]] shrinks to one bit,
    * this shrinks the NUMBER of dimensions): project the corpus and the
    * query to `projDims` via [[rademacherProj]], shortlist the
    * `rescore` nearest by squared L2 in the projected space
    * (TakeOrderedAndProject, never a global sort), then exact decimal
    * cosine on the survivors only. At 100 TB the projected scan reads
    * 4× fewer multiply-adds per row at projDims=16 — and unlike the
    * quantizers there is NOTHING to train or store: any executor (or
    * engine) re-derives the matrix from the index formula, which also
    * makes the index trivially consistent under appends.
    */
  def randProjTopK(emb: DataFrame, idCol: String, vecCol: String,
                   queryId: Long, k: Int, rescore: Int = 50,
                   dims: Int = 64, projDims: Int = 16): DataFrame = {
    def staged(df: DataFrame): DataFrame =
      df.withColumn("__p", rademacherProj(vecCol, dims, projDims))
    val q = staged(emb.filter(col(idCol) === queryId))
      .select(col(vecCol).as("__qv"), col("__p").as("__pq"))
    val short = staged(emb).crossJoin(broadcast(q))
      .withColumn("approx_dist", Dedup.dotExact(
        zip_with(col("__p"), col("__pq"), (x, y) => x - y),
        zip_with(col("__p"), col("__pq"), (x, y) => x - y)))
      .orderBy(col("approx_dist").asc, col(idCol))
      .limit(rescore)
    short
      .select(col(idCol), col("approx_dist"),
        (Dedup.dotExact(col(vecCol), col("__qv")) /
          (Dedup.normExact(col(vecCol)) * Dedup.normExact(col("__qv"))))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Recall-vs-rescore-budget curve for the random-projection index in
    * ONE pass — [[hammingRecallSweep]]'s shape on the JL member of the
    * scan family: the corpus is projected-distance-ranked ONCE to
    * max(budgets) (TakeOrderedAndProject), each operating point is a
    * rank filter over that same bounded shortlist re-ranked by its
    * exact cosine, and all points share one exact ground truth — the
    * curve that answers "how much rescore do 16 projected dims need",
    * the lever sim_recall_randproj's gate names.
    */
  def randProjRecallSweep(emb: DataFrame, idCol: String, vecCol: String,
                          queryId: Long, k: Int, budgets: Seq[Int],
                          dims: Int = 64, projDims: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxB = budgets.max
    def staged(df: DataFrame): DataFrame =
      df.withColumn("__p", rademacherProj(vecCol, dims, projDims))
    val q = staged(emb.filter(col(idCol) === queryId))
      .select(col(vecCol).as("__qv"), col("__p").as("__pq"))
    val short = staged(emb).crossJoin(broadcast(q))
      .withColumn("approx_dist", Dedup.dotExact(
        zip_with(col("__p"), col("__pq"), (x, y) => x - y),
        zip_with(col("__p"), col("__pq"), (x, y) => x - y)))
      .orderBy(col("approx_dist").asc, col(idCol))
      .limit(maxB)
      .select(col(idCol), col("approx_dist"),
        (Dedup.dotExact(col(vecCol), col("__qv")) /
          (Dedup.normExact(col(vecCol)) * Dedup.normExact(col("__qv"))))
          .as("__cos"))
    // bounded-relation windows from here down (≤ maxB rows; the
    // partitionBy(lit(1)) is the rankBounded idiom, see hammingRecallSweep)
    val ranked = short.withColumn("rank",
      row_number().over(Window.partitionBy(lit(1))
        .orderBy(col("approx_dist").asc, col(idCol))))
    val pts = {
      val s = emb.sparkSession
      import s.implicits._
      budgets.sorted.toDF("budget")
    }
    val per = ranked.crossJoin(broadcast(pts))
      .filter(col("rank") <= col("budget"))
      .withColumn("__crn", row_number().over(
        Window.partitionBy(col("budget"))
          .orderBy(col("__cos").desc, col(idCol))))
      .filter(col("__crn") <= k)
    val qv = vectorOf(emb, idCol, vecCol, queryId)
    val exact = bruteForceTopK(emb, idCol, vecCol, qv, k)
      .select(col(idCol))
    val denom = exact.agg(count(lit(1)).as("__n"))
    val hits = per.join(exact, idCol)
      .groupBy(col("budget")).agg(count(lit(1)).as("hits"))
    pts.join(hits, Seq("budget"), "left")
      .crossJoin(broadcast(denom))
      .select(col("budget").cast("long").as("budget"),
        lit(k.toLong).as("k"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        when(col("__n") > 0,
          coalesce(col("hits"), lit(0L)).cast("double") / col("__n"))
          .otherwise(lit(0.0)).as("recall"))
      .orderBy(col("budget"))
  }

  /** Pin a double to the 1e-9 decimal grid via EXACT binary expansion +
    * HALF_UP. A 9-digit double's cast to any wider decimal is exact in
    * both Spark and DuckDB, so grid-pinned values survive cross-engine
    * decimal staging bit-for-bit — the defense [[semanticDedup]] and the
    * PQ codebooks apply to every trained mean that reaches query output
    * or drives a cross-engine-visible decision.
    */
  private[graft] def quantize9(x: Double): Double =
    new java.math.BigDecimal(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue

  /** Product-quantization codebooks (Jégou et al. 2011): split every
    * vector into `m` contiguous subspaces of `dims/m` dimensions and
    * train an independent k-means codebook per subspace. Returns
    * books(s)(code) = centroid (subDim doubles, grid-pinned via
    * [[quantize9]]).
    *
    * At 100 TB: train each codebook on a SAMPLE (the sim_kmeans_sampled
    * recipe — pass the sample as `emb`); encoding the corpus afterwards
    * is one narrow map ([[pqEncode]]). m trainings of k centroids over
    * subDim dims are m·(iters+1) bounded aggregates — nothing here
    * scales with the corpus except the passes.
    */
  /** OPQ-style TRAINED dimension permutation for PQ (Ge et al. CVPR'13,
    * "Optimized Product Quantization" — the rotation restricted to
    * PERMUTATION matrices, OPQ's own initialization family): assign
    * dimensions to subspaces so per-subspace variance is BALANCED,
    * instead of accepting whatever the storage order happens to group.
    * PQ quantizes each subspace with the same code budget; a subspace
    * holding most of the variance wastes the others' bits, which is
    * exactly what a rotation fixes on anisotropic data (on isotropic
    * data every rotation — including the full learned one — is a
    * no-op by symmetry, and the trained permutation degenerates to a
    * near-identity relabeling; SimilaritySpec constructs the
    * anisotropic case and measures the lift).
    *
    * Training is ONE bounded aggregate (per-dimension decimal-exact
    * Σx and Σx², 2·dims+1 values to the driver at any corpus size):
    * rank dimensions by the exact variance key n·Σx² − (Σx)²
    * (division-free — comparisons never round), then SNAKE-assign
    * ranks into m subspaces (round r places its m dims forward or
    * reversed alternately — the classic LPT-style balancer whose
    * subspace variance sums differ by at most one round's spread).
    * Permutation matrices are orthogonal, so cosine/L2 geometry is
    * EXACTLY preserved: the rescore stage and the recall ground truth
    * are invariant; only the subspace split changes.
    *
    * @return the original dimension index (0-based) at each permuted
    *         position, grouped subspace-major.
    */
  def opqVariancePermutation(emb: DataFrame, vecCol: String, m: Int,
                             dims: Int): Seq[Int] = {
    val dec = DecimalType(30, 14)
    val aggs = (0 until dims).flatMap { i =>
      val x = element_at(col(vecCol), i + 1).cast("double")
      Seq(sum(x.cast(dec)).cast("double").as(s"s$i"),
        sum((x * x).cast(dec)).cast("double").as(s"q$i"))
    } :+ count(lit(1)).cast("double").as("n")
    val row = emb.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getDouble(2 * dims)
    val vkey = (0 until dims).map(i =>
      n * row.getDouble(2 * i + 1) - row.getDouble(2 * i) * row.getDouble(2 * i))
    val ranked = (0 until dims).sortBy(i => (-vkey(i), i))
    val subs = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    ranked.zipWithIndex.foreach { case (dim, t) =>
      val r = t / m; val p = t % m
      val s = if (r % 2 == 0) p else m - 1 - p
      subs(s) += dim
    }
    subs.toSeq.flatten
  }

  /** Apply a dimension permutation to a vector column (position j of
    * the output = original dimension perm(j)) — one narrow projection,
    * element type preserved.
    */
  def permuteVectors(emb: DataFrame, vecCol: String,
                     perm: Seq[Int]): DataFrame =
    emb.withColumn(vecCol,
      array(perm.map(i => element_at(col(vecCol), i + 1)): _*))

  /** Total PQ quantization distortion Σ_rows Σ_subspaces min_code
    * ‖x_s − c‖² — the objective OPQ actually minimizes (Ge et al.,
    * eq. 1). Each squared distance is the kmeans chain's decimal-exact
    * value; the total accumulates those doubles in decimal (exact,
    * order-independent), so two engines computing it agree bit-for-bit
    * and the trained argmin below is reproducible. One bounded
    * aggregate: k·m literal centroids ride into the scan, one decimal
    * per row crosses the partial-agg combine.
    */
  def pqDistortion(emb: DataFrame, vecCol: String,
                   books: Seq[Seq[Seq[Double]]],
                   dims: Int): java.math.BigDecimal = {
    val m = books.size
    val subDim = dims / m
    val dec = DecimalType(30, 14)
    val perRow = (0 until m).map { s =>
      val sl = slice(col(vecCol), s * subDim + 1, subDim)
      array_sort(array(books(s).zipWithIndex.map { case (c, i) =>
        struct(sqDistExact(sl, c).as("d"), lit(i).as("c"))
      }: _*)).getItem(0).getField("d").cast(dec)
    }.reduce(_ + _)
    emb.agg(sum(perRow).as("dist")).head().getDecimal(0)
  }

  /** OPQ permutation TRAINING by the real objective: train PQ codebooks
    * for each candidate permutation (identity and the variance-balanced
    * snake), measure each candidate's exact quantization distortion,
    * keep the argmin — ties to the EARLIER candidate, so on isotropic
    * data (where every rotation is provably a no-op by symmetry and
    * measured distortions differ only by seeding noise) the trainer
    * correctly returns identity instead of a luck-of-the-seed shuffle.
    * This is the standard candidate-set compromise of full OPQ's
    * alternating optimization: the transform family is restricted to
    * permutations, the selection criterion is OPQ's own.
    *
    * Cost: |candidates| × (PQ training + one distortion aggregate) —
    * bounded work at any corpus size (train on a sample at 100 TB, as
    * with every quantizer here).
    */
  def opqTrainedPermutation(emb: DataFrame, idCol: String, vecCol: String,
                            m: Int, k: Int, iters: Int,
                            dims: Int): Seq[Int] =
    opqTrainedPermutationWithBooks(emb, idCol, vecCol, m, k, iters, dims)._1

  /** [[opqTrainedPermutation]] returning the winning candidate's
    * ALREADY-TRAINED codebooks too — training is a pure function of the
    * (permuted) corpus, so handing them to the index builder skips a
    * redundant third training with identical results (the
    * one-training-many-consumers seam).
    */
  def opqTrainedPermutationWithBooks(
      emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int,
      dims: Int): (Seq[Int], Seq[Seq[Seq[Double]]]) = {
    val candidates = Seq(
      (0 until dims): Seq[Int],
      opqVariancePermutation(emb, vecCol, m, dims))
    val trained = candidates.map { perm =>
      val p = permuteVectors(emb, vecCol, perm)
      val books = pqTrain(p, idCol, vecCol, m, k, iters, dims)
      (perm, books, pqDistortion(p, vecCol, books, dims))
    }
    val best = trained.zipWithIndex.minBy { case ((_, _, d), i) =>
      (d: java.math.BigDecimal, i)
    }(Ordering.Tuple2(Ordering.comparatorToOrdering(
      java.util.Comparator.naturalOrder[java.math.BigDecimal]()),
      Ordering.Int))._1
    (best._1, best._2)
  }

  def pqTrain(emb: DataFrame, idCol: String, vecCol: String,
              m: Int, k: Int, iters: Int, dims: Int): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && dims % m == 0, "dims must divide into m subspaces")
    val subDim = dims / m
    (0 until m).map { s =>
      val sliced = emb.select(col(idCol),
        slice(col(vecCol), s * subDim + 1, subDim).as(vecCol))
      kmeansCentroids(sliced, idCol, vecCol, k, iters)
        .map(_.map(quantize9))
    }
  }

  /** PQ code array for every row: code s = nearest codebook centroid of
    * subspace s (exact decimal argmin, ties to the lower code — the
    * [[nearestCluster]] contract per subspace). m codes of ⌈log2 k⌉ bits
    * replace dims·32 bits of float — the compressed representation the
    * ADC scan reads instead of vectors.
    */
  def pqEncode(emb: DataFrame, vecCol: String,
               books: Seq[Seq[Seq[Double]]], dims: Int,
               outCol: String = "pq_code"): DataFrame = {
    val m = books.size
    val subDim = dims / m
    emb.withColumn(outCol, array(books.zipWithIndex.map { case (cb, s) =>
      nearestCluster(slice(col(vecCol), s * subDim + 1, subDim), cb)
    }: _*))
  }

  /** PQ-ADC ANN: asymmetric distance computation against a stored query
    * vector. The query precomputes (m × k) tables of per-subspace
    * partial dots and norms against the codebooks (driver-side — k·m
    * doubles); every row's approximate cosine is then m table LOOKUPS
    * summed — the scan touches only the code array, never a float
    * vector (the memory-bandwidth shape that makes PQ the workhorse of
    * billion-vector indexes). Top-`rescore` candidates by approximate
    * cosine (TakeOrderedAndProject), exact decimal rescore, final top-k
    * by exact cosine.
    *
    * Cross-engine bit-exactness: codebooks are grid-pinned; table
    * entries are sequential left folds over exact inputs (oracle:
    * list_reduce); the per-row sum is a fixed-order chain of m adds; so
    * the approximate ranking — and therefore the shortlist — is
    * IDENTICAL in both engines, and output values come only from the
    * proven exact-decimal rescore.
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             query: Seq[Float], m: Int, k: Int, iters: Int, dims: Int,
             rescore: Int, topK: Int,
             trainedBooks: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    // trainedBooks: the one-training-many-consumers seam (the BPE
    // mergeCache precedent) — training is a pure function of the
    // corpus, so a caller-cached codebook changes nothing but cost
    val books = trainedBooks.getOrElse(
      pqTrain(emb, idCol, vecCol, m, k, iters, dims))
    val subDim = dims / m
    val qd = query.map(_.toDouble)
    val tdot: Seq[Seq[Double]] = books.zipWithIndex.map { case (cb, s) =>
      cb.map(c => (0 until subDim).foldLeft(0.0)((acc, i) =>
        acc + qd(s * subDim + i) * c(i)))
    }
    val tnorm: Seq[Seq[Double]] = books.map(_.map(c =>
      (0 until subDim).foldLeft(0.0)((acc, i) => acc + c(i) * c(i))))
    val nq = math.sqrt((0 until dims).foldLeft(0.0)((acc, i) =>
      acc + qd(i) * qd(i)))
    val coded = pqEncode(emb, vecCol, books, dims)
    val lookup = (table: Seq[Seq[Double]]) =>
      (0 until m).map(s => element_at(typedlit(table(s)),
        element_at(col("pq_code"), s + 1) + 1)).reduce(_ + _)
    val short = coded
      .withColumn("approx_sim",
        lookup(tdot) / (sqrt(lookup(tnorm)) * lit(nq)))
      .orderBy(col("approx_sim").desc, col(idCol))
      .limit(rescore)
    short
      .select(col(idCol), col("approx_sim"),
        cosineToQuery(col(vecCol), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(topK)
      .select(col(idCol), col("cos_sim"))
  }

  /** IVF-PQ (non-residual variant): the two quantizers composed the way
    * billion-vector indexes actually deploy — a COARSE k-means prunes
    * the search to `nprobe` clusters (at rest: partition pruning, the
    * [[ivfWriteLayout]] story), and PQ-ADC ranks within the probed rows
    * reading only code arrays ([[pqTopK]]'s memory-bandwidth story),
    * then the exact decimal rescore. One PQ codebook trained on the
    * FULL corpus serves every probe (the [[ivfTrainedTopKFiltered]]
    * one-index-many-queries contract). Residual encoding (PQ over
    * vec − coarse centroid) is the standard refinement this variant
    * trades for composability of the two existing oracles.
    *
    * The coarse shortlist is computed DRIVER-side over the grid-pinned
    * centroids with ordered folds — k·dims doubles, bit-identical to
    * the oracle's list_reduce restatement, so cluster pruning, ADC
    * ranking and the rescore shortlist are all engine-exact.
    */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                query: Seq[Float], nprobe: Int, kCoarse: Int,
                coarseIters: Int, m: Int, k: Int, iters: Int, dims: Int,
                rescore: Int, topK: Int,
                trainedCoarse: Option[Seq[Seq[Double]]] = None,
                trainedBooks: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    val coarse = trainedCoarse.getOrElse(
      kmeansCentroids(emb, idCol, vecCol, kCoarse, coarseIters)
        .map(_.map(quantize9)))
    val qd = query.map(_.toDouble)
    val nq = math.sqrt((0 until dims).foldLeft(0.0)((acc, i) =>
      acc + qd(i) * qd(i)))
    val probed: Seq[Int] = coarse.zipWithIndex.map { case (c, i) =>
      val dot = (0 until dims).foldLeft(0.0)((acc, j) => acc + qd(j) * c(j))
      val cn = math.sqrt((0 until dims).foldLeft(0.0)((acc, j) =>
        acc + c(j) * c(j)))
      (dot / (cn * nq), i)
    }.sortBy { case (cos, i) => (-cos, i) }.take(nprobe).map(_._2)
    val inProbe = emb
      .withColumn("__g_coarse", nearestCluster(col(vecCol), coarse))
      .filter(col("__g_coarse").isin(probed: _*))
    val books = trainedBooks.getOrElse(
      pqTrain(emb, idCol, vecCol, m, k, iters, dims))
    val subDim = dims / m
    val tdot: Seq[Seq[Double]] = books.zipWithIndex.map { case (cb, s) =>
      cb.map(c => (0 until subDim).foldLeft(0.0)((acc, i) =>
        acc + qd(s * subDim + i) * c(i)))
    }
    val tnorm: Seq[Seq[Double]] = books.map(_.map(c =>
      (0 until subDim).foldLeft(0.0)((acc, i) => acc + c(i) * c(i))))
    val lookup = (table: Seq[Seq[Double]]) =>
      (0 until m).map(s => element_at(typedlit(table(s)),
        element_at(col("pq_code"), s + 1) + 1)).reduce(_ + _)
    val short = pqEncode(inProbe, vecCol, books, dims)
      .withColumn("approx_sim",
        lookup(tdot) / (sqrt(lookup(tnorm)) * lit(nq)))
      .orderBy(col("approx_sim").desc, col(idCol))
      .limit(rescore)
    short
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(topK)
  }

  /** Residual IVF-PQ — true IVFADC (Jégou et al. 2011 §IV): PQ encodes
    * the RESIDUAL `vec − coarse_centroid` rather than the raw vector,
    * which is the refinement that makes the composition accurate (raw
    * vectors spread across the whole space; residuals concentrate near
    * zero, so the same codebook budget spends its resolution where the
    * probed cluster actually lives). Scoring uses the precomputed-table
    * decomposition FAISS ships:
    *
    *   dot(q, c + r)  = qc[cluster] + Σ_s td_s[code_s]
    *   |c + r|²       = cn2[cluster] + Σ_s (2·cross_s[cluster][code_s]
    *                                        + tn_s[code_s])
    *
    * where `cross_s[cluster][code]` = dot(coarse slice, codebook entry) —
    * the m·kCoarse·kPq table that removes any need to reconstruct
    * vectors at query time. All tables are driver-side ordered folds
    * over grid-pinned quantizers (bit-identical to the oracle's
    * list_reduce restatements); the scan reads codes + the coarse
    * cluster id only. Shortlist by approximate cosine, exact decimal
    * rescore, top-k.
    */
  def ivfAdcTopK(emb: DataFrame, idCol: String, vecCol: String,
                 query: Seq[Float], nprobe: Int, kCoarse: Int,
                 coarseIters: Int, m: Int, k: Int, iters: Int, dims: Int,
                 rescore: Int, topK: Int,
                 trainedCoarse: Option[Seq[Seq[Double]]] = None,
                 trainedBooks: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    // trainedBooks MUST be residual codebooks trained against
    // trainedCoarse (see [[residualBooks]]) — the pair is one identity
    val coarse = trainedCoarse.getOrElse(
      kmeansCentroids(emb, idCol, vecCol, kCoarse, coarseIters)
        .map(_.map(quantize9)))
    val resid = residualRelation(emb, idCol, vecCol, coarse)
    val books = trainedBooks.getOrElse(
      pqTrain(resid.select(col(idCol), col("__g_resid")),
        idCol, "__g_resid", m, k, iters, dims))
    val t = adcTables(coarse, books, query.map(_.toDouble), dims)
    val probed = adcCoarseShortlist(t, nprobe)
    val coded = pqEncode(
      resid.filter(col("__g_coarse").isin(probed.map(Integer.valueOf): _*)),
      "__g_resid", books, dims)
    val short = coded
      .withColumn("approx_sim", adcApproxExpr(t, col("__g_coarse")))
      .orderBy(col("approx_sim").desc, col(idCol))
      .limit(rescore)
    short
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(topK)
  }

  /** The residual relation: every row tagged with its coarse cluster and
    * `__g_resid` = vec − assigned coarse centroid (exact double
    * subtraction against the grid-pinned centroid array).
    */
  private def residualRelation(emb: DataFrame, idCol: String,
                               vecCol: String,
                               coarse: Seq[Seq[Double]]): DataFrame = {
    val assigned = graft.core.Caches.track(emb
      .withColumn("__g_coarse", nearestCluster(col(vecCol), coarse)))
    assigned
      .join(broadcast(centroidsDf(emb.sparkSession, coarse)),
        col("__g_coarse") === col("cluster"))
      .select(col(idCol), col(vecCol), col("__g_coarse"),
        zip_with(col(vecCol), col("centroid"),
          (x, c) => x.cast("double") - c).as("__g_resid"))
  }

  /** Grid-pinned k-means: [[kmeansCentroids]] with every mean pinned to
    * the 1e-9 grid ([[quantize9]]) — the form every cross-engine-visible
    * quantizer in this file uses, exposed for one-training-many-
    * consumers callers.
    */
  def kmeansQuantized(train: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): Seq[Seq[Double]] =
    kmeansCentroids(train, idCol, vecCol, k, iters).map(_.map(quantize9))

  /** Residual PQ codebooks for a given coarse quantizer — the trainable
    * half of the IVFADC identity, exposed so callers can train ONCE and
    * serve many queries (pass the result as `trainedBooks` together
    * with the same `trainedCoarse`).
    */
  def residualBooks(emb: DataFrame, idCol: String, vecCol: String,
                    coarse: Seq[Seq[Double]], m: Int, k: Int, iters: Int,
                    dims: Int): Seq[Seq[Seq[Double]]] = {
    val resid = residualRelation(emb, idCol, vecCol, coarse)
    pqTrain(resid.select(col(idCol), col("__g_resid")),
      idCol, "__g_resid", m, k, iters, dims)
  }

  /** The IVFADC precomputed tables (FAISS's decomposition) for one query
    * — every entry a sequential left fold over grid-pinned quantizer
    * values, so both engines (and a persisted-layout reload) reproduce
    * them bit-for-bit.
    */
  private case class AdcTables(qc: Seq[Double], cn2: Seq[Double],
                               tdot: Seq[Seq[Double]],
                               tnorm: Seq[Seq[Double]],
                               cross: Seq[Seq[Seq[Double]]], nq: Double,
                               m: Int)
  private def adcTables(coarse: Seq[Seq[Double]],
                        books: Seq[Seq[Seq[Double]]], qd: Seq[Double],
                        dims: Int): AdcTables = {
    val m = books.size
    val subDim = dims / m
    AdcTables(
      qc = coarse.map(c =>
        (0 until dims).foldLeft(0.0)((acc, i) => acc + qd(i) * c(i))),
      cn2 = coarse.map(c =>
        (0 until dims).foldLeft(0.0)((acc, i) => acc + c(i) * c(i))),
      tdot = books.zipWithIndex.map { case (cb, s) =>
        cb.map(c => (0 until subDim).foldLeft(0.0)((acc, i) =>
          acc + qd(s * subDim + i) * c(i)))
      },
      tnorm = books.map(_.map(c =>
        (0 until subDim).foldLeft(0.0)((acc, i) => acc + c(i) * c(i)))),
      cross = books.zipWithIndex.map { case (cb, s) =>
        coarse.map(cc => cb.map(r =>
          (0 until subDim).foldLeft(0.0)((acc, i) =>
            acc + cc(s * subDim + i) * r(i))))
      },
      nq = math.sqrt((0 until dims).foldLeft(0.0)((acc, i) =>
        acc + qd(i) * qd(i))),
      m = m)
  }

  /** Driver-side coarse shortlist by approximate-cosine rank over the
    * precomputed tables — the probe decision both the scan path and the
    * at-rest layout share.
    */
  private def adcCoarseShortlist(t: AdcTables, nprobe: Int): Seq[Int] =
    t.qc.indices.map { i =>
      (t.qc(i) / (math.sqrt(t.cn2(i)) * t.nq), i)
    }.sortBy { case (cos, i) => (-cos, i) }.take(nprobe).map(_._2)

  /** The per-row ADC approximate cosine: table lookups over the coarse
    * id and the `pq_code` array, fixed-order add chains (mirrored
    * textually by the oracle).
    */
  private def adcApproxExpr(t: AdcTables, coarseCol: Column): Column = {
    val codeAt = (s: Int) => element_at(col("pq_code"), s + 1)
    val adot = (0 until t.m).foldLeft(
      element_at(typedlit(t.qc), coarseCol + 1)) { (acc, s) =>
      acc + element_at(typedlit(t.tdot(s)), codeAt(s) + 1)
    }
    val anorm2 = (0 until t.m).foldLeft(
      element_at(typedlit(t.cn2), coarseCol + 1)) { (acc, s) =>
      acc + (lit(2.0) * element_at(element_at(typedlit(t.cross(s)),
        coarseCol + 1), codeAt(s) + 1) +
        element_at(typedlit(t.tnorm(s)), codeAt(s) + 1))
    }
    adot / (sqrt(anorm2) * lit(t.nq))
  }

  private def codebooksPath(path: String): String =
    path.stripSuffix("/") + "_codebooks"

  def readCodebooks(spark: SparkSession, path: String): Seq[Seq[Seq[Double]]] =
    Tables.parquet(spark, codebooksPath(path))
      .orderBy("subspace", "code").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toSeq).toSeq)

  /** The IVFADC layout AT REST: the [[ivfWriteLayout]] pattern plus the
    * compressed representation — each row stores its coarse partition
    * AND its m PQ codes, with centroids and codebooks persisted beside
    * the data (exact binary doubles). A probe's ADC stage then reads
    * ONLY (id, pq_code) from the nprobe pruned partitions — at 100 TB
    * the scan bandwidth is m·log₂k bits per row instead of dims·32,
    * THE reason billion-vector indexes store codes — and the exact
    * rescore re-reads float vectors for just the ≤rescore shortlisted
    * ids. Serving guarantee: defined bit-identical to [[ivfAdcTopK]]
    * over the same corpus (same deterministic training, persisted
    * exactly), so the scan-path oracle gates this layout verbatim.
    */
  def ivfAdcWriteLayout(emb: DataFrame, idCol: String, vecCol: String,
                        path: String, kCoarse: Int, coarseIters: Int,
                        m: Int, k: Int, iters: Int, dims: Int,
                        trainedCoarse: Option[Seq[Seq[Double]]] = None,
                        trainedBooks: Option[Seq[Seq[Seq[Double]]]] = None): Unit = {
    import org.apache.spark.sql.SaveMode
    val spark = emb.sparkSession
    layoutStore(spark, path).reset()
    // trainedCoarse/trainedBooks: build the layout from an injected
    // quantizer pair (sample-trained, or shared across consumers — the
    // scan path's seam, ivfAdcTopK). The pair is one identity: books
    // must be RESIDUAL codebooks trained against trainedCoarse
    // ([[residualBooks]]); persisting them beside the data makes that
    // identity durable for every later append/probe.
    val coarse = trainedCoarse.getOrElse(
      kmeansCentroids(emb, idCol, vecCol, kCoarse, coarseIters)
        .map(_.map(quantize9)))
    import spark.implicits._
    coarse.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cluster", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(centroidsPath(path))
    val resid = residualRelation(emb, idCol, vecCol, coarse)
    val books = trainedBooks.getOrElse(
      pqTrain(resid.select(col(idCol), col("__g_resid")),
        idCol, "__g_resid", m, k, iters, dims))
    books.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (c, code) => (s, code, c) }
    }.toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(codebooksPath(path))
    val rows = pqEncode(resid, "__g_resid", books, dims)
      .select(col(idCol), col(vecCol), col("pq_code"),
        col("__g_coarse").as("ivf_cluster"))
    layoutStore(spark, path).write(0L, rows)
  }

  /** Incremental maintenance for the at-rest IVFADC layout — the
    * [[ivfAppendLayout]] contract on the compressed index: encode a NEW
    * batch with the PERSISTED quantizer pair (coarse centroids for the
    * assignment + residual, codebooks for the codes — the standard
    * FAISS `add` path: the trained quantizers are the index's identity
    * and are NEVER retrained on ingest) and write it under its own
    * `batch=<id>` subdirectory with overwrite semantics plus a commit
    * marker. Crash anywhere → the batch is invisible; same-id retry
    * rewrites exactly its own subtree and re-marks (idempotent).
    * Serve-side guarantee: probing the appended layout ≡ probing a
    * layout built from the union with the same frozen quantizers.
    *
    * Delete/compact/vacuum parity is STRUCTURAL, not reimplemented:
    * the ADC layout stores its codes as ordinary row columns under the
    * same `batch=<id>/ivf_cluster=<c>` tree, so [[ivfDeleteLayout]]
    * (id tombstones), [[ivfCompactLayout]] (fold served − tombstones
    * into one batch; rows keep their persisted assignment AND codes)
    * and [[ivfVacuumLayout]] apply to it unchanged — one
    * [[graft.core.IndexCommits]] state machine, two index families.
    * At 100 TB this closes the last rebuild-only maintenance path:
    * per-ingest cost is encode-the-batch, never retrain-the-corpus.
    */
  def ivfAdcAppendLayout(emb: DataFrame, idCol: String, vecCol: String,
                         path: String, batchId: Long): Unit = {
    require(batchId > 0, "batch 0 is the full build; appends use fresh ids")
    val spark = emb.sparkSession
    val coarse = readCentroids(spark, path)
    val books = readCodebooks(spark, path)
    val dims = coarse.head.size
    val rows = pqEncode(residualRelation(emb, idCol, vecCol, coarse),
      "__g_resid", books, dims)
      .select(col(idCol), col(vecCol), col("pq_code"),
        col("__g_coarse").as("ivf_cluster"))
    layoutStore(spark, path).write(batchId, rows)
  }

  /** Probe the at-rest IVFADC layout. Two pruned scans: the ADC stage
    * reads (id, pq_code) from the nprobe partitions — never the float
    * vectors (spec pins the ReadSchema) — and the rescore stage
    * semi-joins the ≤rescore shortlist ids back against the same
    * partitions reading (id, vec). Tables are recomputed from the
    * persisted quantizers with the same ordered folds, so the result
    * is bit-identical to the scan-path [[ivfAdcTopK]].
    */
  def ivfAdcProbeLayout(spark: SparkSession, path: String,
                        query: Seq[Float], k: Int, nprobe: Int,
                        rescore: Int, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        asOf: Long = Long.MaxValue): DataFrame = {
    val coarse = readCentroids(spark, path)
    val books = readCodebooks(spark, path)
    val dims = query.length
    val t = adcTables(coarse, books, query.map(_.toDouble), dims)
    val probed = adcCoarseShortlist(t, nprobe)
    // asOf < MaxValue = TIME-TRAVEL probe (ivfProbeLayout's contract on
    // the compressed layout — ONE IndexCommits state machine; the
    // persisted quantizer pair is the index's immutable identity, so
    // every historical state decodes with the same tables)
    val store = layoutStore(spark, path)
    val state = store.snapshot(asOf)
    def probedRows = store.served(state, idCol = Some(idCol))
      .filter(col("ivf_cluster").isin(probed.map(Integer.valueOf): _*))
    val short = probedRows
      .select(col(idCol), col("pq_code"), col("ivf_cluster"))
      .withColumn("approx_sim", adcApproxExpr(t, col("ivf_cluster")))
      .orderBy(col("approx_sim").desc, col(idCol))
      .limit(rescore)
    probedRows.select(col(idCol), col(vecCol))
      .join(broadcast(short.select(col(idCol))), Seq(idCol), "left_semi")
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  // ---- SRP-LSH (signed random projections) -------------------------------

  /** Deterministic pseudo-random hyperplane j over `dims` dimensions:
    * component i = (first_hex_digit(md5("j_i")) - 8) / 16 ∈ [-0.5, 0.44].
    * md5-derived so Spark, DuckDB and tests regenerate identical planes —
    * no RNG state to ship.
    */
  def srpPlane(j: Int, dims: Int): Seq[Double] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (1 to dims).map { i =>
      val hex = digest.digest(s"${j}_$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      (Integer.parseInt(hex.substring(0, 1), 16) - 8) / 16.0
    }
  }

  /** SRP bucket id: bit j = [vec · plane_j ≥ 0]; `nPlanes` bits → one of
    * 2^nPlanes buckets. Exact decimal dots so the sign (and therefore the
    * bucket) is bit-reproducible across engines.
    */
  def srpBucket(vecCol: Column, nPlanes: Int, dims: Int): Column =
    (0 until nPlanes).map { j =>
      when(Dedup.dotExact(vecCol, typedlit(srpPlane(j, dims))) >= 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed ANN: hash every vector to its SRP bucket and search only
    * the query's bucket. Unlike IVF (data-dependent centroids), the SRP
    * partition is data-independent — the 100 TB layout writes the table
    * PARTITIONED BY bucket and a query probes exactly one partition
    * (or Hamming-adjacent buckets for higher recall).
    */
  def srpTopK(emb: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, nPlanes: Int = 8): DataFrame = {
    val dims = query.length
    val withBucket = emb.withColumn("__bucket",
      srpBucket(col(vecCol), nPlanes, dims))
    val qBucket = srpBucket(typedlit(query), nPlanes, dims)
    withBucket.filter(col("__bucket") === qBucket)
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Multi-probe SRP-LSH: search every bucket within Hamming distance
    * `hamming` of the query's bucket — the standard recall lever when a
    * single bucket under-retrieves (each flipped sign bit admits the
    * near neighbors that landed just across one hyperplane; the
    * sim_recall_lsh gate measured 0.40 recall@10 single-bucket on the
    * fixture, exactly this situation). The probe set is enumerated
    * DRIVER-side (Σ_{i≤h} C(nPlanes, i) buckets — tiny) and applied as
    * an `isin` literal list, so on a layout PARTITIONED BY bucket it
    * prunes partitions at the scan just like the single-probe path; the
    * query's own bucket comes from a 1-row evaluation of the SAME
    * decimal-exact expression the corpus side uses (a driver-side
    * double reimplementation could disagree in the last ulp and flip a
    * sign).
    */
  def srpTopKMultiProbe(emb: DataFrame, idCol: String, vecCol: String,
                        query: Seq[Float], k: Int, nPlanes: Int = 8,
                        hamming: Int = 1): DataFrame = {
    require(hamming >= 0 && hamming <= nPlanes, "0 <= hamming <= nPlanes")
    require(nPlanes >= 1 && nPlanes <= 62, "1 <= nPlanes <= 62 (long bits)")
    val dims = query.length
    val qBucket = emb.sparkSession.range(1)
      .select(srpBucket(typedlit(query), nPlanes, dims).as("b"))
      .head().getLong(0)
    // enumerate the Hamming ball DIRECTLY — XOR each ≤hamming-sized
    // plane-index combination into the query's bucket, Σ_{i≤h} C(n, i)
    // values. (Filtering 0 until 2^nPlanes by popcount walks the whole
    // bucket space: 4·10⁹ driver iterations at nPlanes=32, and the shift
    // overflows outright at 63 — the ball itself stays tiny at any n.)
    val probes = (0 to hamming).flatMap(h =>
      (0 until nPlanes).combinations(h).map(c =>
        c.foldLeft(qBucket)((b, j) => b ^ (1L << j))))
      .map(java.lang.Long.valueOf)
    emb.withColumn("__bucket", srpBucket(col(vecCol), nPlanes, dims))
      .filter(col("__bucket").isin(probes: _*))
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Blocked kNN graph — the data structure behind graph-navigable ANN
    * (HNSW/NSG lineage; Malkov & Yashunin 2018): every vector keeps
    * directed edges to its `kNbrs` nearest neighbors WITHIN its coarse
    * block. Exact construction inside each block — the same
    * cell-locality discipline the IVF layouts partition by: per-block
    * work is |block|² candidate dots and |block|·kNbrs output edges,
    * never corpus-quadratic, and block builds are embarrassingly
    * parallel (at 100 TB each block's build is one partition-local
    * task; recall across block boundaries comes from multi-block entry
    * points at serve time, and from multi-probe assignment at build
    * time when blocks are learned cells).
    *
    * Determinism: cosine through the exact decimal dot; per-source
    * ranking breaks ties by neighbor id.
    */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String,
               blockCol: String, kNbrs: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(kNbrs >= 1, "need at least one neighbor per node")
    val nodes = graphNodesWithNorms(emb, idCol, vecCol, blockCol)
    topKNbrEdges(nodes, nodes, kNbrs)
  }

  /** (block, id, vec, fast norm, exact norm) — the per-NODE relation
    * both graph-edge builders score pairs from; norms are computed once
    * per node (corpus-linear), never per pair.
    */
  private def graphNodesWithNorms(emb: DataFrame, idCol: String,
                                  vecCol: String,
                                  blockCol: String): DataFrame =
    emb.select(col(blockCol).as("__b"), col(idCol).as("__id"),
      col(vecCol).as("__v"),
      sqrt(Dedup.dotFast(col(vecCol), col(vecCol))).as("__nf"),
      Dedup.normExact(col(vecCol)).as("__ne"))

  /** Per-src top-k within-block edges from `srcNodes` into `dstNodes`
    * (both [[graphNodesWithNorms]]-shaped), (cosine desc, dst asc).
    *
    * Two-phase scoring, same contract as [[Dedup.embeddingNearDups]]:
    * the within-block pair set is O(|block|²), and scoring every pair
    * with the interpreted decimal HOF fold was the bench's single
    * most expensive query (3 folds × dim per pair). Phase 1 ranks all
    * pairs with the codegen'd double cosine (tight primitive loop)
    * and keeps, per src, everything within 1e-9 of its k-th fast
    * value; phase 2 rescores ONLY the survivors exactly. Soundness:
    * |double − exact| ≤ ~1e-13 per cosine, so a pair more than 1e-9
    * fast-below k others is strictly exact-below them too — the
    * survivor set provably contains every true top-k edge, and the
    * exact rank inside it picks the identical edge set the all-pairs
    * exact build (which the DuckDB oracle replays) picks.
    */
  private def topKNbrEdges(srcNodes: DataFrame, dstNodes: DataFrame,
                           kNbrs: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = srcNodes.toDF("__b", "src", "__va", "__nfa", "__nea")
    val b = dstNodes.toDF("__b", "dst", "__vb", "__nfb", "__neb")
    val perSrc = Window.partitionBy(col("src"))
    val pickFast = perSrc.orderBy(col("__fc").desc, col("dst").asc)
    val pickExact = perSrc.orderBy(col("__cos").desc, col("dst").asc)
    // Zero-norm guards, both phases: a zero vector's cosine is 0/0,
    // which under Spark 4's default ANSI mode THROWS (DIVIDE_BY_ZERO
    // applies to doubles too), and with ANSI off is NaN — which sorts
    // ABOVE every double under desc, so if NaN pairs filled rank kNbrs
    // then __kth itself was NaN and the epsilon filter (NaN comparisons
    // are false, isNull is false) silently dropped EVERY candidate for
    // that src. The `when` keeps the divide unevaluated on a zero
    // denominator and ranks degenerate vectors last at -2 (below any
    // true cosine); nanvl additionally catches NaN INPUT values.
    val fastDen = col("__nfa") * col("__nfb")
    val exactDen = col("__nea") * col("__neb")
    a.join(b, Seq("__b"))
      .filter(col("src") =!= col("dst"))
      .withColumn("__fc", when(fastDen > 0,
        nanvl(Dedup.dotFast(col("__va"), col("__vb")) / fastDen,
          lit(-2.0))).otherwise(lit(-2.0)))
      .withColumn("__rf", row_number().over(pickFast))
      .withColumn("__kth",
        max(when(col("__rf") === kNbrs, col("__fc"))).over(perSrc))
      .filter(col("__kth").isNull || col("__fc") >= col("__kth") - lit(1e-9))
      .withColumn("__cos", when(exactDen > 0,
        nanvl(Dedup.dotExact(col("__va"), col("__vb")) / exactDen,
          lit(-2.0))).otherwise(lit(-2.0)))
      .withColumn("__rn", row_number().over(pickExact))
      .filter(col("__rn") <= kNbrs)
      .select(col("src"), col("dst"))
  }

  /** Graph-navigable ANN serve: beam search over a [[knnGraph]] — the
    * query pattern of HNSW-class indexes, expressed as a bounded
    * number of join rounds. Entry points are the smallest id of EVERY
    * block (so each block is reachable regardless of where the walk
    * starts); each hop expands the current beam by its out-neighbors,
    * scores ONLY the candidate set (≤ beam·(kNbrs+1) vectors — serve
    * cost is hops × beam × kNbrs, independent of corpus size), and
    * keeps the top `beam` by (cosine desc, id). After `hops` rounds
    * the beam's top k is the answer.
    *
    * The graph is built once here and cached; production holds it at
    * rest (it is an (src, dst) relation like any index layout).
    */
  def graphAnnTopK(emb: DataFrame, idCol: String, vecCol: String,
                   blockCol: String, query: Seq[Float], k: Int,
                   kNbrs: Int = 5, beam: Int = 16,
                   hops: Int = 3): DataFrame = {
    val g = graft.core.Caches.track(
      knnGraph(emb, idCol, vecCol, blockCol, kNbrs))
    beamServe(emb, g, idCol, vecCol, blockCol, query, k, beam, hops)
  }

  /** The beam-search serve loop shared by the in-memory
    * [[graphAnnTopK]] and the at-rest [[graphAnnProbeLayout]]: entry
    * points are the smallest id per block, each hop expands the beam
    * by its out-neighbors, scores ONLY the ≤ beam·(degree+1)
    * candidates, and keeps the top `beam` by (cosine desc, id asc).
    */
  private def beamServe(emb: DataFrame, g: DataFrame, idCol: String,
                        vecCol: String, blockCol: String,
                        query: Seq[Float], k: Int, beam: Int,
                        hops: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(beam >= k, "beam must cover k (the answer is the beam's top k)")
    def scored(ids: DataFrame): DataFrame =
      ids.join(emb, ids("__id") === emb(idCol))
        .select(col("__id"), cosineToQuery(col(vecCol), query).as("__cos"))
    val rnW = Window.partitionBy(col(blockCol)).orderBy(col(idCol))
    val entries = emb.withColumn("__rn", row_number().over(rnW))
      .filter(col("__rn") === 1)
      .select(col(idCol).as("__id"))
    val init = scored(entries)
      .orderBy(col("__cos").desc, col("__id"))
      .limit(beam)
    Iterate.rounds(init, hops) { (_, beamDf) =>
      val cand = beamDf.select(col("__id"))
        .union(g.join(beamDf.select(col("__id").as("src")), "src")
          .select(col("dst").as("__id")))
        .distinct()
      scored(cand)
        .orderBy(col("__cos").desc, col("__id"))
        .limit(beam)
    }.state
      .select(col("__id").as(idCol), col("__cos").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** The graph-navigable index AT REST — DiskANN's storage contract
    * expressed as the repo's layout discipline: the kNN graph is an
    * (src, dst) relation and the vectors a plain table, both written
    * under `batch=<id>` subtrees with [[graft.core.IndexCommits]]
    * markers, so a crashed build/append is invisible and a same-id
    * retry idempotent — exactly the IVF/BM25/band-index state machine
    * (ONE shared maintenance story across all index families).
    * A fresh build owns the directory (batch 0).
    */
  def graphAnnWriteLayout(emb: DataFrame, idCol: String, vecCol: String,
                          blockCol: String, path: String,
                          kNbrs: Int = 5): Unit = {
    graphStore(emb.sparkSession, path).reset()
    writeGraphBatch(emb.select(col(idCol), col(vecCol), col(blockCol)),
      knnGraph(emb, idCol, vecCol, blockCol, kNbrs), path, 0L,
      blockCol = Some(blockCol))
  }

  /** Incremental insertion for the at-rest graph index — the
    * HNSW/DiskANN insert path under the frozen-identity append
    * contract every layout here follows: NEW nodes compute their
    * out-edges exactly (top-kNbrs by cosine within their block,
    * candidates = committed corpus ∪ the new batch), while COMMITTED
    * batches' out-edges stay frozen (an old node never gains an edge
    * to a new one — the same "per-ingest cost ∝ batch, not corpus"
    * guarantee as [[ivfAppendLayout]]'s frozen centroids; cross-batch
    * reachability flows through entry points and new→old edges). The
    * serve-side definition IS this freeze, and the oracle replays it.
    */
  def graphAnnAppendLayout(newEmb: DataFrame, idCol: String,
                           vecCol: String, blockCol: String, path: String,
                           kNbrs: Int = 5, batchId: Long = 1L): Unit = {
    import org.apache.spark.sql.expressions.Window
    require(batchId > 0, "batch 0 is the full build; appends use fresh ids")
    val spark = newEmb.sparkSession
    // cached locally and unpersisted before returning — NOT
    // Caches.track: this function is EAGER (all writes happen below),
    // and the streaming foreachBatch maintainers call it once per
    // micro-batch with nobody running the harness's releaseAll — a
    // tracked cache would leak one persisted relation per batch
    val fresh = newEmb.select(col(idCol), col(vecCol), col(blockCol))
      .persist()
    // TOUCHED-BLOCK PRUNING (the r14b probe's finding): the kNN edge
    // join is blockCol-equi, so committed vectors in blocks the batch
    // never touches cannot match — yet the un-pruned read scanned and
    // shuffled the WHOLE index per micro-batch (input bytes ∝ index;
    // the documented "per-ingest cost ∝ batch" contract violated at
    // the scan). The batch's distinct blocks are a bounded driver
    // fetch (≤ one value per batch row, typically a handful), and the
    // literal isin PUSHES DOWN to the parquet scan, where the
    // block-clustered batch files ([[writeGraphBatch]] repartitions by
    // block) let row-group stats skip whole blocks.
    val touched = fresh.select(col(blockCol)).distinct()
      .collect().map(_.get(0))
    val existing = graphStore(spark, path)
      .served(part = "vectors", idCol = Some(idCol))
      .filter(if (touched.isEmpty) lit(false)
              else col(blockCol).isin(touched: _*))
      .select(col(idCol), col(vecCol), col(blockCol))
    val cand = existing.unionByName(fresh)
    // same two-phase scoring as the full build (see [[topKNbrEdges]]);
    // src side = the appended batch only, dst side = old ∪ new
    val edges = topKNbrEdges(
      graphNodesWithNorms(fresh, idCol, vecCol, blockCol),
      graphNodesWithNorms(cand, idCol, vecCol, blockCol), kNbrs)
    try writeGraphBatch(fresh, edges, path, batchId,
      blockCol = Some(blockCol))
    finally { fresh.unpersist(); () }
  }

  /** Serve top-k from the at-rest graph index: committed vectors and
    * edges (marker-replayed state, `asOf` time travel via the shared
    * [[graft.core.IndexCommits.servedStateAsOf]]) feed the same
    * [[beamServe]] loop as the in-memory path. Deletes apply by
    * IMMEDIATE EXCLUSION — tombstoned nodes leave both the scoring
    * candidates and the routing graph (every edge touching one is
    * dropped), a stricter, exactly-restatable contract than DiskANN's
    * lazy route-through; nodes that lose neighbors keep a reduced
    * degree until a rebuild. Per hop the candidate set is ≤
    * beam·(deg+1) ids — at scale an id-bucketed vector layout makes
    * each hop's lookup file-pruned; edges are read once and cached.
    */
  def graphAnnProbeLayout(spark: SparkSession, path: String,
                          query: Seq[Float], k: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          blockCol: String = "label",
                          beam: Int = 16, hops: Int = 3,
                          asOf: Long = Long.MaxValue): DataFrame = {
    val store = graphStore(spark, path)
    val state = store.snapshot(asOf)
    val vecs = graft.core.Caches.track(
      store.served(state, "vectors", Some(idCol)))
    val g = graft.core.Caches.track(servedGraphEdges(store, state, idCol))
    beamServe(vecs, g, idCol, vecCol, blockCol, query, k, beam, hops)
  }

  /** Tombstone-delete nodes from the at-rest graph index — the shared
    * `del_<id>` marker discipline ([[ivfDeleteLayout]] semantics; same
    * idempotency and crash-safety).
    */
  def graphAnnDeleteLayout(ids: DataFrame, idCol: String, path: String,
                           batchId: Long): Unit =
    graphStore(ids.sparkSession, path)
      .delete(batchId, ids.select(col(idCol)).distinct())

  /** Compact the at-rest graph index: fold served vectors (minus
    * tombstones) and served LIVE edges (minus edges touching a
    * tombstoned endpoint) into ONE fresh batch, committed by the
    * shared atomic supersede-marker rename. ROW- AND EDGE-PRESERVING —
    * no kNN rebuild, so the serve is bit-identical before and after
    * (the invariant every layout here compacts under); reclaiming the
    * degree lost to deletions is a separate explicit
    * [[graphAnnWriteLayout]] rebuild decision.
    */
  def graphAnnCompactLayout(spark: SparkSession, path: String,
                            idCol: String, newBatchId: Long,
                            blockCol: String = "label"): Unit = {
    val store = graphStore(spark, path)
    store.compact(newBatchId) { state =>
      val vecs = store.served(state, "vectors", Some(idCol)).drop("batch")
      // preserve the block clustering appends rely on for scan pruning —
      // an unclustered compacted batch would quietly undo the
      // touched-blocks row-group skip for every later append. The block
      // column is threaded EXPLICITLY (callers know it, exactly as
      // graphAnnAppendLayout takes it) instead of recovered positionally:
      // positional recovery would silently cluster by the wrong column if
      // the layout ever gained another scalar column. Validate loudly.
      require(vecs.columns.contains(blockCol) && blockCol != idCol &&
        !vecs.schema(blockCol).dataType.isInstanceOf[
          org.apache.spark.sql.types.ArrayType],
        s"block column '$blockCol' not a scalar non-id column of the " +
          s"graph vectors layout (${vecs.columns.mkString(", ")})")
      Seq(vecs.repartition(col(blockCol)), servedGraphEdges(store, state, idCol))
    }
  }

  /** Sweep superseded graph-index batches and tombstones (shared
    * [[graft.core.IndexCommits.vacuum]]). */
  def graphAnnVacuumLayout(spark: SparkSession, path: String): Int =
    graphStore(spark, path).vacuum()

  /** The graph index's units: `vectors` and `edges`. */
  private def graphStore(spark: SparkSession, path: String): IndexCommits.Store =
    IndexCommits.Store(spark, path,
      Seq(IndexCommits.Part("vectors"), IndexCommits.Part("edges")))

  /** Served edges: a tombstoned node leaves the routing graph, so every
    * edge touching one is dropped. */
  private def servedGraphEdges(store: IndexCommits.Store,
      state: IndexCommits.State, idCol: String): DataFrame = {
    val base = store.served(state, "edges").select(col("src"), col("dst"))
    store.tombstones(state).fold(base) { t =>
      val dead = t.select(col(idCol))
      base
        .join(dead.select(col(idCol).as("src")), Seq("src"), "left_anti")
        .join(dead.select(col(idCol).as("dst")), Seq("dst"), "left_anti")
        .select(col("src"), col("dst"))
    }
  }

  /** One graph-index batch. When `blockCol` is given, the vectors are
    * CLUSTERED by block before the write (one exchange of the batch —
    * O(batch)): each parquet file then holds few blocks, so
    * [[graphAnnAppendLayout]]'s pushed touched-blocks isin prunes the
    * committed-side scan at row-group stats instead of reading the
    * whole index per micro-batch. Pure physical locality — same rows,
    * same directory layout, serve/compaction unchanged.
    */
  private def writeGraphBatch(vecs: DataFrame, edges: DataFrame,
                              path: String, batchId: Long,
                              blockCol: Option[String] = None): Unit = {
    val clustered = blockCol.fold(vecs)(b => vecs.repartition(col(b)))
    graphStore(vecs.sparkSession, path).write(batchId, clustered, edges)
  }
}
