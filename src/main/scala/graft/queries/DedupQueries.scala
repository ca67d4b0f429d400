package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Dedup, Similarity, TextAnalysis, TextOps, UrlOps}
import graft.queries.OracleCompat.{KmeansDims, KmeansIters, KmeansK, cleanSql, dotSql,
  kmeansCtes, kmeansCtesOn, minhashPairCtes, qualitySql, urlCtes, wordShingleSql}
import graft.queries.QueryFixtures.{scratch, syntheticUrl}

/** Deduplication (`dedup_*`): exact and fuzzy duplicates over documents
  * and embeddings — MinHash/LSH, SimHash, exact set-similarity joins,
  * duplicated spans, clustering of duplicate pairs, and the capped
  * (mass-duplicate guarded) variants whose degraded paths bind at fixture
  * scale.
  */
object DedupQueries {

  /** DuckDB restatement of [[Dedup.simhash16]]: word-level md5 nibbles →
    * 16 sign-of-bit-sum bits, ending in `shsig(doc_id, simhash)`. Shared
    * by `dedup_simhash` and the capped-pigeonhole gate `dedup_simhash_capped`.
    */
  private def simhash16Ctes: String = {
    val sums = (0 until 16).map { b =>
      val hexPos = b / 4 + 1
      val div = 1 << (b % 4)
      s"sum((((instr('0123456789abcdef', substr(h4, $hexPos, 1)) - 1) // $div) % 2) * 2 - 1) AS s$b"
    }.mkString(",\n    ")
    val hash = (0 until 16).map(b => s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""shw0 AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents),
       |shw AS (SELECT doc_id, substr(md5(w), 1, 4) AS h4 FROM shw0),
       |shbits AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM shw GROUP BY doc_id),
       |shsig AS (SELECT doc_id, CAST($hash AS BIGINT) AS simhash FROM shbits)""".stripMargin
  }

  private val K = 8

  // shared oracle CTEs: positional word-8-gram MD5s, corpus-repeated
  // hashes, duplicated positions merged into maximal intervals
  // (new span iff the lag gap exceeds k — overlap-or-touch merge)
  private def spanCtes: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, i AS pos,
       |    md5(array_to_string(w[i:i+${K - 1}], ' ')) AS h
       |  FROM w, unnest(generate_series(1, len(w) - ${K - 1})) AS g(i)
       |  WHERE len(w) >= $K),
       |dup AS (SELECT h FROM pos GROUP BY h HAVING count(*) > 1),
       |dp AS (SELECT p.doc_id, p.pos FROM pos p
       |       WHERE p.h IN (SELECT h FROM dup)),
       |flag AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |           IS NULL
       |      OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |           > $K
       |    THEN 1 ELSE 0 END AS brk
       |  FROM dp),
       |isl AS (
       |  SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM flag),
       |spans AS (
       |  SELECT doc_id, min(pos) AS span_start,
       |    max(pos) + ${K - 1} AS span_end,
       |    CAST(max(pos) + ${K - 1} - min(pos) + 1 AS BIGINT)
       |      AS span_words,
       |    CAST(count(*) AS BIGINT) AS n_kgrams
       |  FROM isl GROUP BY doc_id, island)""".stripMargin

  /** Small enough that 16-bit chunk groups at BOTH sf0.001 and sf0.01
    * overflow it (the 4-real-bit top chunk averages docs/16 per value),
    * so the id-ordered chain path actually produces the output the
    * oracle checks — capped ≠ exact by construction at fixture scale.
    */
  private val ChunkCapDf = 2

  /** maxBandDf for the binding run. At 1, EVERY multi-doc band group
    * exceeds the cap, so the id-ordered chain branch produces the
    * whole pair output; the fixture corpora contain band groups of 3
    * (sf0.01) and 4 (sf0.001) docs, whose chains emit strictly fewer
    * pairs than the all-pairs join — capped ≠ exact by construction
    * at both probe scales, so a chain-path bug cannot hide behind the
    * exact path's answer.
    */
  private val BandCapDf = 1

  val all: Seq[Q] = Seq(

    Q("dedup_exact",
      "Exact dedup groups by normalized key (here: 40-char prefix — the " +
        "fixtures plant prefix duplicates): one shuffle on the key, " +
        "min-id survivor.",
      (s, d) => Dedup.exactDupGroups(Tables.documents(s, d),
          col("doc_id"), substring(col("text"), 1, 40))
        .orderBy("dup_key"),
      Some("""SELECT substr(text, 1, 40) AS dup_key, min(doc_id) AS keep_id,
             |       count(*) AS group_size
             |FROM documents
             |GROUP BY 1 HAVING count(*) > 1
             |ORDER BY dup_key""".stripMargin)),

    Q("dedup_minhash",
      "MinHash-LSH near-dup candidates over word 5-gram shingles with " +
        "2 bands × 3 rows banding (P(candidate)=1-(1-J³)² — the S-curve " +
        "that rejects the merely-similar): per-shingle md5 once, " +
        "partial-agg signatures, band-key self-join; only (id, band, key) " +
        "ever shuffles. Band groups over maxBandDf=256 docs (degenerate " +
        "mass-duplicate keys) degrade to the id-ordered chain — O(n) " +
        "pairs, same connected components — and the oracle mirrors the " +
        "cap, so the guard path itself is hash-checked.",
      (s, d) => Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text",
          Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3)
        .orderBy("id_a", "id_b"),
      Some(
        s"""WITH $minhashPairCtes
           |SELECT id_a, id_b, count(*) AS bands_matched
           |FROM pairs
           |GROUP BY 1, 2
           |ORDER BY id_a, id_b""".stripMargin)),

    Q("dedup_jaccard",
      "Word 3-gram Jaccard near-dup pairs with a shingle document-" +
        "frequency cap (boilerplate guard bounding the self-join " +
        "quadratically; deterministic md5 mod-p sampling available for " +
        "larger shingle universes).",
      (s, d) => Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text",
          Dedup.Shingler.words(3), threshold = 0.5, maxShingleDf = 64)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH sh AS (
              |  SELECT doc_id AS id, unnest(${wordShingleSql("text", 3)}) AS sh FROM documents),
              |rare AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 64),
              |f AS (SELECT sh.id, sh.sh FROM sh JOIN rare USING (sh)),
              |counts AS (SELECT id, count(*) AS n_sh FROM f GROUP BY id),
              |common AS (
              |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
              |  FROM f a JOIN f b ON a.sh = b.sh AND a.id < b.id
              |  GROUP BY 1, 2)
              |SELECT id_a, id_b, n_common,
              |       n_common::DOUBLE / (ca.n_sh + cb.n_sh - n_common) AS jaccard
              |FROM common
              |JOIN counts ca ON ca.id = id_a
              |JOIN counts cb ON cb.id = id_b
              |WHERE n_common::DOUBLE / (ca.n_sh + cb.n_sh - n_common) >= 0.5
              |ORDER BY id_a, id_b""".stripMargin)),

    Q("dedup_simhash",
      "16-bit SimHash signatures from word-level md5 nibbles: one explode " +
        "+ one 16-way aggregation; pairs at scale come from " +
        "bit_count(xor) ≤ r (Dedup.simhashPairs).",
      (s, d) => Dedup.simhash16(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH $simhash16Ctes
              |SELECT doc_id, simhash FROM shsig ORDER BY doc_id""".stripMargin)),

    Q("dedup_embedding",
      "Embedding-cosine near-dup pairs blocked by the cluster column " +
        "(IVF-style: only intra-cluster pairs are scored); decimal-exact " +
        "dot products keep it bit-reproducible.",
      (s, d) => Dedup.embeddingNearDups(Tables.embeddings(s, d),
          "vec_id", "embedding", "label", threshold = 0.4)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH nrm AS (
              |  SELECT vec_id, label, embedding,
              |         sqrt(${dotSql("embedding", "embedding")}) AS nrm
              |  FROM embeddings, generate_series(1, 64) g(i)
              |  GROUP BY vec_id, label, embedding),
              |pairs AS (
              |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |         a.embedding AS ea, b.embedding AS eb, a.nrm AS na, b.nrm AS nb
              |  FROM nrm a JOIN nrm b ON a.label = b.label AND a.vec_id < b.vec_id),
              |dots AS (
              |  SELECT id_a, id_b, ${dotSql("ea", "eb")} AS dot, na, nb
              |  FROM pairs, generate_series(1, 64) g(i)
              |  GROUP BY id_a, id_b, na, nb)
              |SELECT id_a, id_b, dot / (na * nb) AS cos_sim
              |FROM dots
              |WHERE dot / (na * nb) >= 0.4
              |ORDER BY id_a, id_b""".stripMargin)),

    Q("dedup_cluster",
      "The dedup endgame: MinHash-LSH candidate pairs → connected " +
        "components (iterative min-label propagation, one join+agg per " +
        "round, rounds = component diameter) → min-id survivor per " +
        "cluster. Oracle: DuckDB recursive CTE over the same edge list.",
      (s, d) => {
        val pairs = Dedup.minhashCandidates(Tables.documents(s, d),
          "doc_id", "text", Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3)
        val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
        val w = Window.partitionBy("cluster")
        cc.select(col("id"), col("label").as("cluster"))
          .withColumn("cluster_size", count(lit(1)).over(w))
          .withColumn("is_survivor", col("id") === col("cluster"))
          .orderBy("id")
      },
      Some(
        s"""WITH RECURSIVE ${minhashPairCtes},
           |edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs),
           |reach AS (
           |  SELECT src AS id, src AS lab FROM edges
           |  UNION
           |  SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id),
           |cc AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id)
           |SELECT id, cluster,
           |       count(*) OVER (PARTITION BY cluster) AS cluster_size,
           |       id = cluster AS is_survivor
           |FROM cc ORDER BY id""".stripMargin)),

    Q("dedup_contamination",
      "Benchmark decontamination: train docs (doc_id % 10 ≠ 0) sharing " +
        "≥3 distinct word-3-gram shingles with any benchmark doc " +
        "(doc_id % 10 = 0) — the eval-leakage guard; the benchmark side " +
        "is small/curated, so the shingle join is bench-bounded.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.contamination(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0),
            "doc_id", "text", Dedup.Shingler.words(3), minCommon = 3)
          .orderBy("id")
      },
      Some(s"""WITH tsh AS (
              |  SELECT doc_id AS id, unnest(${wordShingleSql("text", 3)}) AS sh
              |  FROM documents WHERE doc_id % 10 <> 0),
              |bsh AS (
              |  SELECT doc_id AS bid, unnest(${wordShingleSql("text", 3)}) AS sh
              |  FROM documents WHERE doc_id % 10 = 0),
              |common AS (
              |  SELECT id, bid, count(*) AS n FROM tsh JOIN bsh USING (sh)
              |  GROUP BY 1, 2)
              |SELECT id, count(*) AS n_bench_hits, max(n) AS max_overlap
              |FROM common WHERE n >= 3
              |GROUP BY id ORDER BY id""".stripMargin)),

    Q("dedup_incremental",
      "Incremental dedup against a historical corpus: a Bloom filter " +
        "over history's fingerprints (distributed agg, fixed-size, " +
        "broadcast) lets BF-negative incoming rows skip the anti-join " +
        "entirely — no false negatives means the result is EXACT while " +
        "the join input shrinks to ~dup_rate+fpp of incoming. Oracle: " +
        "the plain anti-join.",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("fp", TextOps.fingerprint(col("text")))
        Dedup.newAgainstHistory(
            docs.filter(col("doc_id") % 3 =!= 0),
            docs.filter(col("doc_id") % 3 === 0),
            "fp", expectedItems = 100000L)
          .select("doc_id", "fp")
          .orderBy("doc_id")
      },
      // history = doc_id % 3 = 0 side; incoming = the rest (matching the
      // Spark arguments above: incoming first, history second)
      Some(s"""WITH f AS (
             |  SELECT doc_id, md5($cleanSql) AS fp
             |  FROM documents)
             |SELECT i.doc_id, i.fp
             |FROM f i
             |WHERE i.doc_id % 3 <> 0
             |  AND NOT EXISTS (SELECT 1 FROM f h
             |                  WHERE h.doc_id % 3 = 0 AND h.fp = i.fp)
             |ORDER BY i.doc_id""".stripMargin)),

    Q("dedup_editdist",
      "Edit-distance verification of MinHash candidates: the LSH banding " +
        "produces the candidate pairs (never a cross join), then exact " +
        "Levenshtein distance — identical integer DP in any engine — " +
        "scores each survivor. The fuzzy-verify alternative to Jaccard " +
        "when character-level edits (OCR noise, typos) are the dup " +
        "mechanism; the O(len²) DP runs only on candidates.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.minhashCandidates(docs, "doc_id", "text",
            Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3)
          .join(docs.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
          .join(docs.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
          .select(col("id_a"), col("id_b"),
            levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${minhashPairCtes},
              |p2 AS (SELECT id_a, id_b FROM pairs GROUP BY 1, 2)
              |SELECT p.id_a, p.id_b,
              |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
              |FROM p2 p
              |  JOIN documents da ON da.doc_id = p.id_a
              |  JOIN documents db ON db.doc_id = p.id_b
              |ORDER BY p.id_a, p.id_b""".stripMargin)),

    Q("dedup_cluster_star",
      "The dedup endgame on the ADVERSARIAL-graph algorithm: the same " +
        "MinHash-LSH pairs → connected components, but via alternating " +
        "small-star/large-star edge rewriting (Kiveris et al.) instead of " +
        "label propagation — the state is the shrinking edge list, and " +
        "each round quadruples distance-to-min reach on chain graphs. " +
        "Same cluster/survivor output contract as dedup_cluster, same " +
        "recursive-CTE oracle: two independent algorithms, one answer.",
      (s, d) => {
        val pairs = Dedup.minhashCandidates(Tables.documents(s, d),
          "doc_id", "text", Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3)
        val cc = Dedup.connectedComponentsStar(pairs, "id_a", "id_b")
        val w = Window.partitionBy("cluster")
        cc.select(col("id"), col("label").as("cluster"))
          .withColumn("cluster_size", count(lit(1)).over(w))
          .withColumn("is_survivor", col("id") === col("cluster"))
          .orderBy("id")
      },
      Some(
        s"""WITH RECURSIVE ${minhashPairCtes},
           |edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs),
           |reach AS (
           |  SELECT src AS id, src AS lab FROM edges
           |  UNION
           |  SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id),
           |cc AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id)
           |SELECT id, cluster,
           |       count(*) OVER (PARTITION BY cluster) AS cluster_size,
           |       id = cluster AS is_survivor
           |FROM cc ORDER BY id""".stripMargin)),

    Q("dedup_embedding_trained",
      "Embedding near-dup pairs blocked by the TRAINED k-means cluster " +
        "instead of the fixture label — the blocker a real corpus uses " +
        "(there is no label column at 100 TB). Only intra-cluster pairs " +
        "are scored; the oracle replays the full Lloyd chain and then " +
        "the blocked pairwise cosine.",
      (s, d) => Dedup.embeddingNearDups(
          Similarity.kmeansAssign(Tables.embeddings(s, d),
            "vec_id", "embedding", KmeansK, KmeansIters, outCol = "kb"),
          "vec_id", "embedding", "kb", threshold = 0.4)
        .orderBy("id_a", "id_b"),
      Some(
        s"""WITH $kmeansCtes,
           |nrm AS (
           |  SELECT e.vec_id, a.cluster AS blk, e.embedding,
           |         sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
           |  FROM embeddings e JOIN a${KmeansIters + 1} a USING (vec_id),
           |       generate_series(1, $KmeansDims) g(i)
           |  GROUP BY e.vec_id, a.cluster, e.embedding),
           |pairs AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |         a.embedding AS ea, b.embedding AS eb, a.nrm AS na, b.nrm AS nb
           |  FROM nrm a JOIN nrm b ON a.blk = b.blk AND a.vec_id < b.vec_id),
           |dots AS (
           |  SELECT id_a, id_b, ${dotSql("ea", "eb")} AS dot, na, nb
           |  FROM pairs, generate_series(1, $KmeansDims) g(i)
           |  GROUP BY id_a, id_b, na, nb)
           |SELECT id_a, id_b, dot / (na * nb) AS cos_sim
           |FROM dots
           |WHERE dot / (na * nb) >= 0.4
           |ORDER BY id_a, id_b""".stripMargin)),

    Q("dedup_substring",
      "Cross-document exact SUBSTRING dedup (the suffix-array method of " +
        "Lee et al. 2021, approximated with overlapping k-gram " +
        "fingerprints): every word span of length ≥ 8 that appears in " +
        "≥ 2 distinct documents is removed from all but the minimum-id " +
        "document (first occurrence survives). Four bounded-key shuffles " +
        "— gram-md5 dictionary, co-partitioned coverage join, (doc,pos) " +
        "dedup, per-doc rebuild from the posexplode index; no global " +
        "sort, no suffix array.",
      (s, d) => Dedup.dedupSpans(Tables.documents(s, d),
          "doc_id", "text", k = 8, minDocs = 2)
        .orderBy("doc_id"),
      Some(
        """WITH w AS (
          |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
          |  FROM documents WHERE trim(text) <> ''),
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
          |kept AS (
          |  SELECT wp.doc_id, wp.word, wp.p
          |  FROM wp LEFT JOIN cov ON wp.doc_id = cov.doc_id AND wp.p = cov.p
          |  WHERE cov.p IS NULL),
          |tot AS (
          |  SELECT doc_id,
          |    CASE WHEN trim(text) = '' THEN 0
          |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n
          |  FROM documents)
          |SELECT t.doc_id,
          |  coalesce(string_agg(k.word, ' ' ORDER BY k.p), '') AS clean_text,
          |  CAST(t.n - count(k.word) AS BIGINT) AS n_removed
          |FROM tot t LEFT JOIN kept k USING (doc_id)
          |GROUP BY t.doc_id, t.n
          |ORDER BY t.doc_id""".stripMargin)),

    Q("dedup_survivor",
      "Survivor-selection POLICY over near-dup clusters: when a MinHash " +
        "cluster collapses, keep the HIGHEST-QUALITY copy (ties to the " +
        "lowest id) instead of the min-id default — the RefinedWeb/" +
        "FineWeb keep-best convention. Same candidate pairs and " +
        "connected components as dedup_cluster; the ranking window " +
        "partitions by CLUSTER (width bounded by cluster size, never " +
        "the corpus) and the quality join is id-keyed. Oracle: the " +
        "recursive-CTE components + the ta_quality score + row_number.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
          Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3)
        val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
        Dedup.survivorsByScore(cc, docs, "doc_id",
            TextAnalysis.qualityScore(col("text")))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH RECURSIVE ${minhashPairCtes},
           |edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs),
           |reach AS (
           |  SELECT src AS id, src AS lab FROM edges
           |  UNION
           |  SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id),
           |cc AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
           |sc AS (
           |  SELECT cc.id, cc.cluster,
           |    ${qualitySql("d.text")} AS score
           |  FROM cc JOIN documents d ON d.doc_id = cc.id)
           |SELECT id AS doc_id, cluster, score,
           |  row_number() OVER (PARTITION BY cluster
           |    ORDER BY score DESC, id) = 1 AS is_survivor
           |FROM sc ORDER BY doc_id""".stripMargin)),

    Q("dedup_semantic",
      "SemDeDup (Abbas et al. 2023): semantic dedup by trained k-means " +
        "blocking — 16 clusters, cosine pairs scored ONLY within a " +
        "cluster, and each tau-close pair drops its member with the " +
        "HIGHER cosine to the centroid (the survivor of every duplicate " +
        "neighborhood is its most atypical member — the diversity-" +
        "preserving keep rule). Same blocked pair-join shape as " +
        "dedup_embedding (nothing all-pairs, subBlocks for hot " +
        "clusters); the keep criterion adds one broadcast join against " +
        "the kxdims centroid relation and an id-keyed semi-join.",
      (s, d) => Similarity.semanticDedup(Tables.embeddings(s, d),
        "vec_id", "embedding", kClusters = 16, iters = 2, threshold = 0.4),
      Some {
        val iters = KmeansIters
        val cFin = s"c$iters"
        // cq: the trained centroids pinned to the 1e-9 grid (see
        // Similarity.semanticDedup — kills the shortest-string decimal
        // cast drift in the means), and aq: the final full-corpus
        // assignment recomputed AGAINST cq so both engines assign with
        // the identical quantized quantizer (the helper's own final
        // assignment uses the raw means and goes unreferenced).
        s"""WITH ${kmeansCtesOn("embeddings", k = 16)},
           |cq AS (
           |  SELECT cluster, i, cast(cast(c AS DECIMAL(38,9)) AS DOUBLE) AS c
           |  FROM $cFin),
           |dq AS (
           |  SELECT e.vec_id, c.cluster,
           |    cast(sum(cast((e.embedding[c.i]::DOUBLE - c.c) * (e.embedding[c.i]::DOUBLE - c.c)
           |         AS DECIMAL(38,14))) AS DOUBLE) AS d
           |  FROM embeddings e, cq c
           |  GROUP BY e.vec_id, c.cluster),
           |aq AS (
           |  SELECT vec_id, cluster FROM dq
           |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1),
           |cent_arr AS (
           |  SELECT cluster, list(c ORDER BY i) AS cv FROM cq GROUP BY cluster),
           |ne2 AS (
           |  SELECT vec_id, sqrt(${dotSql("embedding", "embedding")}) AS nrm
           |  FROM embeddings, generate_series(1, 64) g(i) GROUP BY vec_id),
           |ccos AS (
           |  SELECT e.vec_id, a.cluster,
           |    list_reduce(list_transform(generate_series(1, 64),
           |        i -> e.embedding[i]::DOUBLE * ca.cv[i]), (x, y) -> x + y)
           |      / (sqrt(list_reduce(list_transform(generate_series(1, 64),
           |           i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), (x, y) -> x + y))
           |         * sqrt(list_reduce(list_transform(generate_series(1, 64),
           |             i -> ca.cv[i] * ca.cv[i]), (x, y) -> x + y)))
           |      AS cent_cos
           |  FROM embeddings e
           |  JOIN aq a USING (vec_id)
           |  JOIN cent_arr ca ON ca.cluster = a.cluster),
           |prs AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM aq a JOIN aq b
           |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
           |pdots AS (
           |  SELECT p.id_a, p.id_b,
           |    cast(sum(cast(ea.embedding[g.i]::DOUBLE * eb.embedding[g.i]::DOUBLE
           |      AS DECIMAL(38,14))) AS DOUBLE) AS dot
           |  FROM prs p
           |  JOIN embeddings ea ON ea.vec_id = p.id_a
           |  JOIN embeddings eb ON eb.vec_id = p.id_b,
           |  generate_series(1, 64) g(i)
           |  GROUP BY p.id_a, p.id_b),
           |clse AS (
           |  SELECT id_a, id_b FROM pdots
           |  JOIN ne2 na ON na.vec_id = id_a
           |  JOIN ne2 nb ON nb.vec_id = id_b
           |  WHERE dot / (na.nrm * nb.nrm) >= 0.4),
           |dropped AS (
           |  SELECT DISTINCT
           |    CASE WHEN ca.cent_cos < cb.cent_cos
           |           OR (ca.cent_cos = cb.cent_cos AND id_a < id_b)
           |         THEN id_b ELSE id_a END AS d
           |  FROM clse
           |  JOIN ccos ca ON ca.vec_id = clse.id_a
           |  JOIN ccos cb ON cb.vec_id = clse.id_b)
           |SELECT c.vec_id, cast(c.cluster AS BIGINT) AS cluster,
           |  c.cent_cos, dr.d IS NULL AS kept
           |FROM ccos c LEFT JOIN dropped dr ON dr.d = c.vec_id
           |ORDER BY c.vec_id""".stripMargin
      }),

    Q("dedup_containment",
      "Near-containment pairs — Jaccard's asymmetric companion " +
        "(|A∩B|/|A| for the smaller shingle set A): catches a short " +
        "document embedded in a longer one (wire story in an " +
        "aggregator page), where symmetric Jaccard stays low because " +
        "the union is container-dominated. Shares dedup_jaccard's " +
        "df-capped overlap core (same shingles, same boilerplate " +
        "guard); emits contained → container with the larger of the " +
        "two directional scores.",
      (s, d) => Dedup.containmentPairs(Tables.documents(s, d), "doc_id",
          "text", Dedup.Shingler.words(3), threshold = 0.8,
          maxShingleDf = 64)
        .orderBy("contained", "container"),
      Some(s"""WITH sh AS (
              |  SELECT doc_id AS id,
              |    unnest(${wordShingleSql("text", 3)}) AS sh
              |  FROM documents),
              |rare AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 64),
              |f AS (SELECT sh.id, sh.sh FROM sh JOIN rare USING (sh)),
              |counts AS (SELECT id, count(*) AS n_sh FROM f GROUP BY id),
              |common AS (
              |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
              |  FROM f a JOIN f b ON a.sh = b.sh AND a.id < b.id
              |  GROUP BY 1, 2),
              |j AS (
              |  SELECT id_a, id_b, n_common, ca.n_sh AS n_a, cb.n_sh AS n_b
              |  FROM common
              |  JOIN counts ca ON ca.id = id_a
              |  JOIN counts cb ON cb.id = id_b)
              |SELECT
              |  CASE WHEN n_a < n_b OR (n_a = n_b AND id_a < id_b)
              |       THEN id_a ELSE id_b END AS contained,
              |  CASE WHEN n_a < n_b OR (n_a = n_b AND id_a < id_b)
              |       THEN id_b ELSE id_a END AS container,
              |  n_common,
              |  n_common::DOUBLE / least(n_a, n_b) AS containment
              |FROM j
              |WHERE n_common::DOUBLE / least(n_a, n_b) >= 0.8
              |ORDER BY contained, container""".stripMargin)),

    Q("dedup_recall",
      "Recall/precision gate for the MinHash-LSH banding — the dedup " +
        "family's analogue of the ANN recall gates: ground truth is " +
        "exact capped-universe Jaccard >= 0.5 over the SAME word " +
        "5-gram shingles the bands hash, candidates are the 2x3 " +
        "banding's pairs, and the one-row report gives banding recall " +
        "(theory: P(candidate) = 1-(1-J^3)^2, so ~0.23 at the " +
        "J=0.5 boundary rising steeply toward 1 — a drop below the " +
        "curve means the banding is broken, not just coarse) and " +
        "candidate precision. Both sides reuse the existing " +
        "pair machinery; the intersect joins two bounded pair " +
        "relations.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // cached: each pair relation feeds its own count AND the
        // intersect count — without the cache the shingle/band joins
        // re-run per consumer (measured 6.4s -> the pair cost once)
        val truth = graft.core.Caches.track(
          Dedup.jaccardPairs(docs, "doc_id", "text",
            Dedup.Shingler.words(5), threshold = 0.5, maxShingleDf = 64))
        val cand = graft.core.Caches.track(
          Dedup.minhashCandidates(docs, "doc_id", "text",
            Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3))
        val hits = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
        truth.agg(count(lit(1)).as("__nt"))
          .crossJoin(cand.agg(count(lit(1)).as("__nc")))
          .crossJoin(hits.agg(count(lit(1)).as("__nh")))
          .select(col("__nt").as("n_true"), col("__nc").as("n_candidates"),
            col("__nh").as("hits"),
            when(col("__nt") > 0,
              col("__nh").cast("double") / col("__nt"))
              .otherwise(lit(0.0)).as("recall"),
            when(col("__nc") > 0,
              col("__nh").cast("double") / col("__nc"))
              .otherwise(lit(0.0)).as("precision"))
      },
      Some(
        s"""WITH ${minhashPairCtes},
           |cand AS (SELECT DISTINCT id_a, id_b FROM pairs),
           |jsh AS (
           |  SELECT doc_id AS id,
           |    unnest(${wordShingleSql("text", 5)}) AS sh
           |  FROM documents),
           |jrare AS (SELECT sh FROM jsh GROUP BY sh HAVING count(*) <= 64),
           |jf AS (SELECT jsh.id, jsh.sh FROM jsh JOIN jrare USING (sh)),
           |jcounts AS (SELECT id, count(*) AS n_sh FROM jf GROUP BY id),
           |jcommon AS (
           |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
           |  FROM jf a JOIN jf b ON a.sh = b.sh AND a.id < b.id
           |  GROUP BY 1, 2),
           |truth AS (
           |  SELECT id_a, id_b FROM jcommon
           |  JOIN jcounts ca ON ca.id = id_a
           |  JOIN jcounts cb ON cb.id = id_b
           |  WHERE n_common::DOUBLE / (ca.n_sh + cb.n_sh - n_common) >= 0.5),
           |h AS (SELECT * FROM truth INTERSECT SELECT * FROM cand)
           |SELECT (SELECT count(*) FROM truth) AS n_true,
           |  (SELECT count(*) FROM cand) AS n_candidates,
           |  (SELECT count(*) FROM h) AS hits,
           |  CASE WHEN (SELECT count(*) FROM truth) > 0
           |    THEN (SELECT count(*) FROM h)::DOUBLE /
           |         (SELECT count(*) FROM truth)
           |    ELSE 0.0 END AS recall,
           |  CASE WHEN (SELECT count(*) FROM cand) > 0
           |    THEN (SELECT count(*) FROM h)::DOUBLE /
           |         (SELECT count(*) FROM cand)
           |    ELSE 0.0 END AS precision""".stripMargin)),

    Q("dedup_recall_sweep",
      "The banding TUNING CURVE behind dedup_recall's single point: " +
        "recall/precision at (bands, rows) = (1,6), (2,3), (3,2) " +
        "against the same exact-Jaccard ground truth, all three " +
        "configurations reading ONE shared cached signature (the hash " +
        "slices are common — a k-point sweep costs one shingle/hash " +
        "pass plus k band-key exchanges, not k full runs). The curve " +
        "shows the S-curve trade directly: more rows per band rejects " +
        "the merely-similar, more bands recalls weaker pairs — the " +
        "lever a curation run tunes before committing to a banding.",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val truth = graft.core.Caches.track(
          Dedup.jaccardPairs(docs, "doc_id", "text",
            Dedup.Shingler.words(5), threshold = 0.5, maxShingleDf = 64))
        val sweep = graft.core.Caches.track(
          Dedup.minhashCandidatesSweep(docs, "doc_id", "text",
            Dedup.Shingler.words(5), Seq((1, 6), (2, 3), (3, 2))))
        val keys = Seq("bands_n", "rows_per_band")
        val cfgs = Seq((1, 6), (2, 3), (3, 2)).toDF(keys: _*)
        val nCand = sweep.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__nc"))
        val hits = sweep.join(truth.select("id_a", "id_b"),
            Seq("id_a", "id_b"), "left_semi")
          .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__nh"))
        cfgs.join(nCand, keys, "left").join(hits, keys, "left")
          .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
          .select(col("bands_n"), col("rows_per_band"), col("n_true"),
            coalesce(col("__nc"), lit(0L)).as("n_candidates"),
            coalesce(col("__nh"), lit(0L)).as("hits"),
            when(col("n_true") > 0,
              coalesce(col("__nh"), lit(0L)).cast("double") / col("n_true"))
              .otherwise(lit(0.0)).as("recall"),
            when(coalesce(col("__nc"), lit(0L)) > 0,
              coalesce(col("__nh"), lit(0L)).cast("double") / col("__nc"))
              .otherwise(lit(0.0)).as("precision"))
          .orderBy(col("bands_n"), col("rows_per_band"))
      },
      Some {
        def slice(i: Int) = s"substr(md5(s), ${i * 5 + 1}, 5)"
        val mhs = (0 until 6).map(i =>
          s"list_min(list_transform(${wordShingleSql("text", 5)}, " +
            s"s -> ${slice(i)})) AS mh$i").mkString(",\n    ")
        val configs = Seq((1, 6), (2, 3), (3, 2))
        val perCfg = configs.map { case (bn, rpb) =>
          val sfx = s"_${bn}_$rpb"
          val bands = (0 until bn).map(b =>
            s"SELECT doc_id, $b AS band, " +
              (0 until rpb).map(r => s"mh${b * rpb + r}").mkString(" || ") +
              " AS h FROM sig").mkString("\n  UNION ALL ")
          s"""bands$sfx AS (
             |  $bands),
             |bf$sfx AS (
             |  SELECT doc_id, band, h,
             |    count(*) OVER (PARTITION BY band, h) AS df_b
             |  FROM bands$sfx),
             |pairs$sfx AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bf$sfx a JOIN bf$sfx b
             |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
             |  WHERE a.df_b <= 256
             |  UNION ALL
             |  SELECT id_a, id_b FROM (
             |    SELECT doc_id AS id_a,
             |      lead(doc_id) OVER (PARTITION BY band, h ORDER BY doc_id)
             |        AS id_b
             |    FROM bf$sfx WHERE df_b > 256)
             |  WHERE id_b IS NOT NULL),
             |cand$sfx AS (SELECT DISTINCT id_a, id_b FROM pairs$sfx),
             |h$sfx AS (SELECT * FROM truth INTERSECT
             |          SELECT * FROM cand$sfx)""".stripMargin
        }.mkString(",\n")
        val rows = configs.map { case (bn, rpb) =>
          val sfx = s"_${bn}_$rpb"
          s"""SELECT $bn AS bands_n, $rpb AS rows_per_band,
             |  (SELECT count(*) FROM truth) AS n_true,
             |  (SELECT count(*) FROM cand$sfx) AS n_candidates,
             |  (SELECT count(*) FROM h$sfx) AS hits,
             |  CASE WHEN (SELECT count(*) FROM truth) > 0
             |    THEN (SELECT count(*) FROM h$sfx)::DOUBLE /
             |         (SELECT count(*) FROM truth)
             |    ELSE 0.0 END AS recall,
             |  CASE WHEN (SELECT count(*) FROM cand$sfx) > 0
             |    THEN (SELECT count(*) FROM h$sfx)::DOUBLE /
             |         (SELECT count(*) FROM cand$sfx)
             |    ELSE 0.0 END AS precision""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH sig AS (
           |  SELECT doc_id,
           |    $mhs
           |  FROM documents),
           |jsh AS (
           |  SELECT doc_id AS id,
           |    unnest(${wordShingleSql("text", 5)}) AS sh
           |  FROM documents),
           |jrare AS (SELECT sh FROM jsh GROUP BY sh HAVING count(*) <= 64),
           |jf AS (SELECT jsh.id, jsh.sh FROM jsh JOIN jrare USING (sh)),
           |jcounts AS (SELECT id, count(*) AS n_sh FROM jf GROUP BY id),
           |jcommon AS (
           |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
           |  FROM jf a JOIN jf b ON a.sh = b.sh AND a.id < b.id
           |  GROUP BY 1, 2),
           |truth AS (
           |  SELECT id_a, id_b FROM jcommon
           |  JOIN jcounts ca ON ca.id = id_a
           |  JOIN jcounts cb ON cb.id = id_b
           |  WHERE n_common::DOUBLE / (ca.n_sh + cb.n_sh - n_common) >= 0.5),
           |$perCfg
           |$rows
           |ORDER BY bands_n, rows_per_band""".stripMargin
      }),

    Q("dedup_ppjoin",
      "EXACT Jaccard >= 0.5 near-dup pairs via prefix filtering " +
        "(AllPairs/PPJoin, Bayardo et al. WWW'07): shingles ordered " +
        "globally by ascending df, each doc joins only on its first " +
        "n - ceil(theta*n) + 1 shingles (provably complete), the size " +
        "filter theta*|b| <= |a| <= |b|/theta rides the join condition, " +
        "and only candidate pairs reach the exact verify. The oracle is " +
        "the INDEPENDENT brute-force all-pairs intersection - so the " +
        "prefix filter's zero-false-negative claim is itself " +
        "hash-checked, not assumed.",
      (s, d) => Dedup.ppjoinPairs(Tables.documents(s, d), "doc_id", "text",
          Dedup.Shingler.words(3), threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH sh AS (
              |  SELECT doc_id AS id, ${wordShingleSql("text", 3)} AS ts
              |  FROM documents),
              |pairs AS (
              |  SELECT a.id AS id_a, b.id AS id_b,
              |         len(list_intersect(a.ts, b.ts)) AS n_common,
              |         len(a.ts) + len(b.ts)
              |           - len(list_intersect(a.ts, b.ts)) AS n_union
              |  FROM sh a JOIN sh b ON a.id < b.id)
              |SELECT id_a, id_b, n_common,
              |       n_common::DOUBLE / n_union AS jaccard
              |FROM pairs WHERE n_common::DOUBLE / n_union >= 0.5
              |ORDER BY id_a, id_b""".stripMargin)),

    Q("dedup_index",
      "The MinHash band table AT REST — incremental dedup against 100 " +
        "TB of history with EXACT candidate recovery (the at-rest " +
        "complement of dedup_incremental's Bloom filter, which answers " +
        "'definitely new' but never 'near-dup of WHOM'): build the " +
        "(id, band, h) table on doc_id % 4 <> 1, append the held-out " +
        "quarter shingling ONLY that batch, tombstone-delete doc_id % " +
        "17 = 3, compact served-minus-tombstones (signatures preserved, " +
        "nothing re-shingled), vacuum, then serve candidates with the " +
        "band-frequency guard recomputed over the served set. Oracle: " +
        "the dedup_minhash banding CTEs over the surviving corpus — " +
        "batch-incremental candidates == full-rebuild candidates is " +
        "the gated definition. Serving reads the compact band table, " +
        "never the historical corpus text.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val path = scratch("graft_dedup_idx", d)
        Dedup.writeBandIndex(docs.filter(col("doc_id") % 4 =!= 1),
          "doc_id", "text", path)
        Dedup.appendToBandIndex(docs.filter(col("doc_id") % 4 === 1),
          "doc_id", "text", path, batchId = 1L)
        Dedup.deleteFromBandIndex(
          docs.filter(col("doc_id") % 17 === 3).select("doc_id"),
          "doc_id", path, batchId = 2L)
        Dedup.compactBandIndex(s, path, "doc_id", newBatchId = 3L)
        Dedup.vacuumBandIndex(s, path)
        Dedup.bandIndexCandidates(s, path, "doc_id")
          .orderBy("id_a", "id_b")
      },
      Some(
        s"""WITH documents AS (
           |  SELECT * FROM main.documents WHERE doc_id % 17 <> 3),
           |${minhashPairCtes}
           |SELECT id_a, id_b, count(*) AS bands_matched
           |FROM pairs
           |GROUP BY 1, 2
           |ORDER BY id_a, id_b""".stripMargin)),

    Q("dedup_cluster_incremental",
      "Incremental connected components " +
        "(Dedup.incrementalComponents) — the CC half of " +
        "batch-incremental dedup: the standing assignment of the " +
        "historical corpus (docs with doc_id % 10 < 8) is folded with " +
        "ONLY the candidate edges touching the new batch, as star " +
        "edges (id → component min id, diameter 2) plus new pairs — " +
        "input nodes-sized + new-batch-sized, never " +
        "history-pairs-sized, rounds tracking the NEW edges' diameter. " +
        "The oracle recomputes the FULL-corpus CC from scratch " +
        "(dedup_cluster's recursive CTE), so the row hash-checks the " +
        "central incremental-maintenance claim: fold(prev, new) ≡ " +
        "full rebuild, bit-for-bit. Candidate recovery against " +
        "100 TB of history is the band index at rest (dedup_index); " +
        "this row gates the merge step it feeds.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // ONE shingle+md5+min-agg signature pass for both fold sides
        // (optimization guide §1.2 "don't compute things twice"): a
        // doc's signature is a pure per-doc function of its text, so
        // sig(docs).filter(hist) ≡ sig(docs.filter(hist)) — only the
        // band-frequency window is corpus-dependent, and
        // minhashCandidatesFromSig recomputes that per side exactly as
        // two independent minhashCandidates calls did. r17: the sig
        // pass dominated this operator's map cost (it ran twice).
        val sig = Dedup.minhashSignatures(docs, "doc_id", "text",
          Dedup.Shingler.words(5), numHashes = 6)
        val prev = Dedup.connectedComponents(
          Dedup.minhashCandidatesFromSig(
            sig.filter(col("doc_id") % 10 < 8), "doc_id",
            bandsN = 2, rowsPerBand = 3),
          "id_a", "id_b")
        val newPairs = Dedup.minhashCandidatesFromSig(sig, "doc_id",
            bandsN = 2, rowsPerBand = 3)
          .filter(col("id_a") % 10 >= 8 || col("id_b") % 10 >= 8)
        Dedup.incrementalComponents(prev, newPairs, "id_a", "id_b")
          .select(col("id"), col("label").as("cluster"))
          .orderBy("id")
      },
      Some(
        s"""WITH RECURSIVE ${minhashPairCtes},
           |edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs),
           |reach AS (
           |  SELECT src AS id, src AS lab FROM edges
           |  UNION
           |  SELECT e.dst AS id, r.lab FROM reach r
           |  JOIN edges e ON e.src = r.id)
           |SELECT id, min(lab) AS cluster FROM reach
           |GROUP BY id ORDER BY id""".stripMargin)),

    Q("dedup_url",
      "URL-keyed exact dedup on the canonical form: variants 0/1/2/5 " +
        "of each (source, doc_id%40) cell collapse to one canonical " +
        "URL; the survivor is the longest document (tie: lowest " +
        "doc_id) via a per-key struct-argmax — one canonical-keyed " +
        "exchange, no global sort, the survivor-policy shape " +
        "dedup_survivor proved at 10x.",
      (s, d) => Tables.documents(s, d)
        .withColumn("url", syntheticUrl())
        .withColumn("canonical", UrlOps.canonicalizeUrl(col("url")))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_dups"),
          max(struct(col("n_chars"), (-col("doc_id")).as("negid")))
            .as("__best"))
        .select(col("canonical"), col("n_dups"),
          (-col("__best").getField("negid")).as("survivor_id"),
          col("__best").getField("n_chars").as("survivor_chars"))
        .orderBy("canonical"),
      Some(s"""WITH $urlCtes,
              |r AS (
              |  SELECT canonical, n_chars, doc_id,
              |    row_number() OVER (PARTITION BY canonical
              |      ORDER BY n_chars DESC, doc_id ASC) AS rn,
              |    count(*) OVER (PARTITION BY canonical) AS n_dups
              |  FROM canon)
              |SELECT canonical, n_dups, doc_id AS survivor_id,
              |  n_chars AS survivor_chars
              |FROM r WHERE rn = 1 ORDER BY canonical""".stripMargin)),

    Q("dedup_stats",
      "Duplication REPORT over the near-dup clusters - the one-page " +
        "summary a curation run logs: cluster-size histogram (how " +
        "many families of each size, how many docs they absorb) over " +
        "the connected components of the MinHash candidate graph. " +
        "Two tiny aggregates past the CC labels; singleton docs " +
        "(no candidate edges) are outside the graph by construction.",
      (s, d) => {
        val cc = Dedup.connectedComponents(
          Dedup.minhashCandidates(Tables.documents(s, d), "doc_id",
            "text", Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3),
          "id_a", "id_b")
        cc.groupBy(col("label")).agg(count(lit(1)).as("__sz"))
          .groupBy(col("__sz").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"))
          .select(col("cluster_size"), col("n_clusters"),
            (col("cluster_size") * col("n_clusters")).as("n_docs"))
          .orderBy(col("cluster_size"))
      },
      Some(s"""WITH RECURSIVE ${minhashPairCtes},
              |edges AS (
              |  SELECT id_a AS src, id_b AS dst FROM pairs
              |  UNION SELECT id_b, id_a FROM pairs),
              |reach AS (
              |  SELECT src AS id, src AS lab FROM edges
              |  UNION
              |  SELECT e.dst AS id, r.lab FROM reach r
              |  JOIN edges e ON e.src = r.id),
              |cc AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
              |sizes AS (SELECT cluster, count(*) AS sz FROM cc GROUP BY 1)
              |SELECT sz AS cluster_size, count(*) AS n_clusters,
              |  CAST(sz * count(*) AS BIGINT) AS n_docs
              |FROM sizes GROUP BY sz ORDER BY cluster_size""".stripMargin)),

    Q("dedup_spans",
      "Exact duplicated-substring spans (Lee et al. 2021 ExactSubstr, " +
        "relational form): per document the MAXIMAL word intervals " +
        "covered by word 8-grams occurring more than once in the " +
        "corpus - the boilerplate/licence/quoted spans inside " +
        "otherwise-unique documents that sequence-level dedup trims. " +
        "One positional-MD5 scan (fixed-width tuples, never text), " +
        "map-side combined count by hash, LEFT-SEMI join back (no " +
        "fan-out on boilerplate hashes), per-doc gaps-and-islands " +
        "interval merge.",
      (s, d) => Dedup.dupSpans(Tables.documents(s, d), "doc_id", "text",
        K),
      Some(s"""$spanCtes
              |SELECT doc_id, span_start, span_end, span_words, n_kgrams
              |FROM spans
              |ORDER BY doc_id, span_start""".stripMargin)),

    Q("dedup_span_frac",
      "Per-source duplicated-span word fraction over dedup_spans - the " +
        "how-much-of-this-source-is-boilerplate number behind per-" +
        "source trimming policy. Maximal spans are disjoint, so " +
        "per-doc duplicated words are a plain sum; slice totals are " +
        "map-side combined aggregates joined on the bounded source key.",
      (s, d) => Dedup.dupSpanFrac(Tables.documents(s, d), "doc_id",
        "text", "source", K),
      Some(s"""$spanCtes,
              |per_doc AS (
              |  SELECT doc_id, sum(span_words) AS dup FROM spans
              |  GROUP BY doc_id),
              |base AS (
              |  SELECT d.doc_id, d.source AS slice,
              |    CAST(len(string_split_regex(trim(d.text), '\\s+'))
              |      AS BIGINT) AS n
              |  FROM documents d)
              |SELECT b.slice, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(b.n) AS BIGINT) AS n_words,
              |  CAST(sum(coalesce(p.dup, 0)) AS BIGINT) AS n_dup_words,
              |  CAST(sum(coalesce(p.dup, 0)) AS DOUBLE) /
              |    CAST(sum(b.n) AS DOUBLE) AS dup_frac
              |FROM base b LEFT JOIN per_doc p ON b.doc_id = p.doc_id
              |GROUP BY b.slice
              |ORDER BY b.slice""".stripMargin)),

    Q("dedup_simhash_capped",
      "The mass-duplicate guard of the Hamming pigeonhole join, made to " +
        "BIND: simhashPairs with maxChunkDf = " + ChunkCapDf + " on the " +
        "16-bit document signatures. Chunk groups over the cap degrade " +
        "from the quadratic equi-join to the id-ordered chain — O(group) " +
        "pairs, components only ever coarsened, never split — and at " +
        "this cap nearly every group takes the chain, so the output " +
        "DIFFERS from exact mode and the oracle restates the full capped " +
        "semantics (windowed df count, sub-cap equi-join with hamming " +
        "<= r filter, over-cap lead() chain keeping hamming as measured " +
        "and unfiltered). This is the CORRECTNESS row for the path " +
        "mm_pipeline ships at maxChunkDf = 256, where sf0.01 groups " +
        "never reach the cap and capped == exact vacuously.",
      (s, d) => Dedup.simhashPairs(
          Dedup.simhash16(Tables.documents(s, d), "doc_id", "text"),
          "doc_id", maxHamming = 2, bits = 16, maxChunkDf = ChunkCapDf)
        .orderBy("id_a", "id_b"),
      Some {
        // mirrors simhashPairs' capped branch: 3 chunks of ceil(16/3)=6
        // bits (the top chunk holds 4 real bits), df per (chunk, value),
        // pairs from the <=cap groups, chains from the >cap groups
        s"""WITH ${simhash16Ctes},
           |chk AS (
           |  SELECT doc_id, simhash, c.chunk,
           |         (simhash >> (c.chunk * 6)) & 63 AS cv
           |  FROM shsig, (VALUES (0), (1), (2)) c(chunk)),
           |dfc AS (
           |  SELECT doc_id, simhash, chunk, cv,
           |         count(*) OVER (PARTITION BY chunk, cv) AS df_c
           |  FROM chk),
           |small AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
           |           AS hamming
           |  FROM dfc a JOIN dfc b
           |    ON a.chunk = b.chunk AND a.cv = b.cv
           |       AND a.doc_id < b.doc_id
           |  WHERE a.df_c <= $ChunkCapDf AND b.df_c <= $ChunkCapDf
           |    AND bit_count(xor(a.simhash, b.simhash)) <= 2),
           |chain0 AS (
           |  SELECT doc_id, simhash,
           |         lead(doc_id) OVER (PARTITION BY chunk, cv
           |                            ORDER BY doc_id) AS next_id,
           |         lead(simhash) OVER (PARTITION BY chunk, cv
           |                             ORDER BY doc_id) AS next_sh
           |  FROM dfc WHERE df_c > $ChunkCapDf),
           |chain AS (
           |  SELECT DISTINCT doc_id AS id_a, next_id AS id_b,
           |         CAST(bit_count(xor(simhash, next_sh)) AS BIGINT)
           |           AS hamming
           |  FROM chain0 WHERE next_id IS NOT NULL)
           |SELECT id_a, id_b, hamming
           |FROM (SELECT * FROM small UNION SELECT * FROM chain)
           |ORDER BY id_a, id_b""".stripMargin
      }),

    Q("dedup_minhash_capped",
      "The band-frequency guard of MinHash-LSH banding, made to BIND: " +
        "minhashCandidates with maxBandDf = " + BandCapDf + " (production " +
        "ships 256, which no sf0.01 band group reaches — the guard was " +
        "spec-tested but oracle-vacuous). Every band group over the cap " +
        "degrades from the quadratic band-key self-join to the " +
        "id-ordered chain — O(group) pairs, connected components " +
        "preserved — and at cap 1 the chain carries the ENTIRE output, " +
        "so the oracle (the same parameterized CTE as dedup_minhash, " +
        "windowed df count + sub-cap equi-join + over-cap lead() chain) " +
        "hash-checks the degraded branch itself, not the exact path.",
      (s, d) => Dedup.minhashCandidates(Tables.documents(s, d), "doc_id",
          "text", Dedup.Shingler.words(5), bandsN = 2, rowsPerBand = 3,
          maxBandDf = BandCapDf)
        .orderBy("id_a", "id_b"),
      Some(
        s"""WITH ${minhashPairCtes(BandCapDf)}
           |SELECT id_a, id_b, count(*) AS bands_matched
           |FROM pairs
           |GROUP BY 1, 2
           |ORDER BY id_a, id_b""".stripMargin)),

    Q("dedup_contamination_capped",
      "The bench-side shingle-frequency guard of decontamination, made " +
        "to BIND: contamination with maxBenchDf = 1, so every 3-gram " +
        "appearing in 2+ benchmark docs (" + "~100 on the sf0.01 bench " +
        "slice) is stop-listed from the join — the guard the r14 " +
        "flagship probe motivated (train_df x bench_df join rows went " +
        "quadratic, 2.4 -> 161 MB shuffle at 10x, when the bench side " +
        "grew with the corpus). Dropping boilerplate shingles lowers " +
        "n_common for real pairs, so capped != exact on the fixtures " +
        "and the oracle (the dedup_contamination CTE plus a bench-df " +
        "window filter) hash-checks the stop-list path itself.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.contamination(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0),
            "doc_id", "text", Dedup.Shingler.words(3), minCommon = 3,
            maxBenchDf = 1)
          .orderBy("id")
      },
      Some(s"""WITH tsh AS (
              |  SELECT doc_id AS id, unnest(${wordShingleSql("text", 3)}) AS sh
              |  FROM documents WHERE doc_id % 10 <> 0),
              |bsh0 AS (
              |  SELECT doc_id AS bid, unnest(${wordShingleSql("text", 3)}) AS sh
              |  FROM documents WHERE doc_id % 10 = 0),
              |bsh AS (
              |  SELECT bid, sh FROM (
              |    SELECT bid, sh, count(*) OVER (PARTITION BY sh) AS dfb
              |    FROM bsh0)
              |  WHERE dfb <= 1),
              |common AS (
              |  SELECT id, bid, count(*) AS n FROM tsh JOIN bsh USING (sh)
              |  GROUP BY 1, 2)
              |SELECT id, count(*) AS n_bench_hits, max(n) AS max_overlap
              |FROM common WHERE n >= 3
              |GROUP BY id ORDER BY id""".stripMargin))
  )
}
