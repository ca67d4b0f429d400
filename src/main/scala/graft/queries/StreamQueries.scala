package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Dedup, EventOps, IncrementalAgg, Profile, Retrieval, Similarity}
import graft.streaming.EventStream
import graft.queries.OracleCompat.{GraphBeam, GraphHops, GraphK, KmeansIters, KmeansK, QueryTerms,
  abtestSql, activeUsersSketchOracle, adcAppendOracle, bm25Sql, dotSql, driftOracle, funnelNOracle,
  ivfProbeCtes, kmeansCtesOn, minhashPairCtes, upsertOracle}
import graft.queries.QueryFixtures.{baseBooks, baseCoarse, scratch, upsertChanges}

/** Structured Streaming (`stream_*`): each query runs a micro-batch
  * pipeline to completion and serves its state, and is checked against
  * the oracle of its batch counterpart (stream ≡ batch).
  */
object StreamQueries {

  private val funnelStages =
    Seq("signup", "view", "click", "view", "purchase")

  val all: Seq[Q] = Seq(

    Q("stream_window",
      "The SAME windowed aggregation executed as a real Structured " +
        "Streaming query (readStream → watermark → window agg → memory " +
        "sink, driven to completion) — checked against the identical " +
        "batch oracle: stream ≡ batch.",
      (s, d) => EventStream.runWindowedStream(s, d)
        .orderBy("hour_start", "event_type"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             |  event_type, count(*) AS n,
             |  cast(sum(cast(value AS DECIMAL(28,8))) AS DOUBLE) AS sum_value
             |FROM events
             |GROUP BY 1, 2
             |ORDER BY hour_start, event_type""".stripMargin)),

    Q("stream_sessionize",
      "Sessionization as a REAL Structured Streaming query: readStream → " +
        "watermark → session_window agg → append-mode memory sink, driven " +
        "to completion with a watermark-flush row (bounded state, " +
        "emit-once — the production shape). Oracle: the same lag+cumsum " +
        "SQL as batch ev_sessionize — stream ≡ batch.",
      (s, d) => graft.streaming.EventStream.runSessionStream(s, d)
        .orderBy("user_id", "session_start_us"),
      Some("""WITH g AS (
             |  SELECT user_id, epoch_us(ts) AS us, value,
             |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT user_id, us, value,
             |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
             |      ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM g)
             |SELECT user_id, min(us) AS session_start_us, count(*) AS n_events,
             |       max(us) - min(us) AS duration_us,
             |       cast(sum(cast(value AS DECIMAL(28,8))) AS DOUBLE) AS sum_value
             |FROM sess
             |GROUP BY user_id, session_id
             |ORDER BY user_id, session_start_us""".stripMargin)),

    Q("stream_join",
      "Stream-stream interval join (purchases ⋈ views on user within " +
        "[purchase − 1h, purchase]): both sides watermarked readStreams; " +
        "the event-time range condition bounds the join state — the op " +
        "that separates a streaming engine from a windowed aggregator. " +
        "Oracle: the identical batch interval join.",
      (s, d) => graft.streaming.EventStream.runIntervalJoinStream(s, d)
        .orderBy("user_id", "p_us", "p_event", "v_us", "v_event"),
      Some("""WITH p AS (SELECT user_id, event_id AS p_event, epoch_us(ts) AS p_us
             |           FROM events WHERE event_type = 'purchase'),
             |     v AS (SELECT user_id, event_id AS v_event, epoch_us(ts) AS v_us
             |           FROM events WHERE event_type = 'view')
             |SELECT p.user_id AS user_id, p_event, p_us, v_event, v_us
             |FROM p JOIN v ON p.user_id = v.user_id
             |  AND v.v_us BETWEEN p.p_us - 3600000000 AND p.p_us
             |ORDER BY p.user_id, p_us, p_event, v_us, v_event""".stripMargin)),

    Q("stream_dedup",
      "Streaming deduplication: dropDuplicates on (user, type, hour) as " +
        "a stateful streaming op — append mode emits first occurrences, " +
        "watermark bounds the key state. Keys-only output ≡ the batch " +
        "DISTINCT oracle.",
      (s, d) => graft.streaming.EventStream.runDedupStream(s, d)
        .orderBy("user_id", "event_type", "hour_start"),
      Some("""SELECT DISTINCT user_id, event_type,
             |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start
             |FROM events
             |ORDER BY user_id, event_type, hour_start""".stripMargin)),

    Q("stream_curation",
      "Streaming curation parity: quality gate (the batch qualityScore " +
        "as a scan-stage expression) feeding streaming exact-dedup " +
        "(dropDuplicates on the text md5) — append mode emits each " +
        "fingerprint once, so incremental ingest keeps the curated " +
        "corpus exactly-once-per-text. Keys-only output ≡ the batch " +
        "DISTINCT-under-quality oracle (the stream_dedup contract).",
      (s, d) => graft.streaming.EventStream.runCurationStream(s, d)
        .orderBy("fp"),
      Some(
        """WITH t AS (
          |  SELECT text, length(text) AS n_chars,
          |    CASE WHEN trim(text) = '' THEN 0
          |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
          |    CASE WHEN length(text) = 0 THEN 0.0::DOUBLE
          |         ELSE length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) / length(text) END AS punct_ratio,
          |    ((length(text) - length(replace(text, ' the ', ''))) / 5::DOUBLE
          |      + (length(text) - length(replace(text, ' a ', ''))) / 3::DOUBLE) AS stop_hits
          |  FROM documents),
          |t2 AS (
          |  SELECT text,
          |    least(n_chars / 500.0::DOUBLE, 1.0::DOUBLE) * 0.4::DOUBLE
          |      + (1.0::DOUBLE - punct_ratio) * 0.3::DOUBLE
          |      + least((CASE WHEN n_tokens = 0 THEN 0.0::DOUBLE
          |               ELSE stop_hits / n_tokens END) * 4.0::DOUBLE,
          |              1.0::DOUBLE) * 0.3::DOUBLE AS quality
          |  FROM t)
          |SELECT DISTINCT md5(text) AS fp FROM t2
          |WHERE quality >= 0.5
          |ORDER BY fp""".stripMargin)),

    Q("stream_index",
      "Structured Streaming maintains the at-rest BM25 index: document " +
        "file stream → foreachBatch → appendToIndex with the " +
        "micro-batch id as the index batch id. Streaming replays a " +
        "failed micro-batch under the SAME id and the append retry " +
        "overwrites exactly its own batch subdirectories — the two " +
        "idempotency layers compose to exactly-once index maintenance. " +
        "Serving the streamed index ≡ a batch build over the same " +
        "corpus, so ta_bm25's oracle applies verbatim (the stream ≡ " +
        "batch contract every streaming query here is gated on).",
      (s, d) => {
        val path = graft.streaming.EventStream.runIndexIngestStream(
          s, d, scratch("graft_stream_idx", d))
        Retrieval.bm25FromIndex(s, path, "doc_id", QueryTerms, topK = 15)
      },
      Some(bm25Sql("TRUE"))),

    Q("stream_ivf",
      "Structured Streaming maintains the at-rest IVF layout: the base " +
        "slice (vec_id % 4 <> 1) bootstraps the quantizer and batch 0; " +
        "the embedding file stream then appends the held-out quarter " +
        "via foreachBatch + ivfAppendLayout, assigned with the " +
        "PERSISTED centroids under the micro-batch id. Streaming " +
        "replays a failed micro-batch under the SAME id and the append " +
        "retry rewrites exactly its own batch subtree — exactly-once " +
        "index maintenance, the stream_index contract on the vector " +
        "side. Serving the streamed layout == one assignment pass over " +
        "the union, so the sim_ivf_append oracle applies verbatim.",
      (s, d) => {
        val path = graft.streaming.EventStream.runIvfIngestStream(
          s, d, scratch("graft_stream_ivf", d),
          kClusters = KmeansK, iters = KmeansIters)
        val q = Similarity.vectorOf(Tables.embeddings(s, d),
          "vec_id", "embedding", 0L)
        Similarity.ivfProbeLayout(s, path, q, k = 10, nprobe = 2)
      },
      Some(
        s"""WITH tr AS (
           |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 <> 1),
           |${kmeansCtesOn("tr")},
           |${ivfProbeCtes(nprobe = 2)}
           |SELECT d.vec_id, d.dot / (ne.nrm * nq.nrm) AS cos_sim
           |FROM dots d JOIN ne USING (vec_id)
           |     JOIN a${KmeansIters + 1} ass USING (vec_id), nq
           |WHERE ass.cluster IN (SELECT cluster FROM short)
           |ORDER BY cos_sim DESC, d.vec_id
           |LIMIT 10""".stripMargin)),

    Q("stream_ivfadc",
      "Structured Streaming maintains the COMPRESSED at-rest index: " +
        "the base slice bootstraps the IVFADC layout (quantizer pair + " +
        "batch 0); the embedding file stream then appends the held-out " +
        "quarter via foreachBatch + ivfAdcAppendLayout — each " +
        "micro-batch ENCODED with the persisted frozen quantizers " +
        "under the micro-batch id. A failed micro-batch replays under " +
        "the SAME id and the append retry rewrites exactly its own " +
        "batch subtree — exactly-once maintenance of a compressed " +
        "vector index. Serving the streamed layout == one encode pass " +
        "over the union, so the sim_ivfadc_append oracle applies " +
        "verbatim.",
      (s, d) => {
        val path = graft.streaming.EventStream.runIvfAdcIngestStream(
          s, d, scratch("graft_stream_ivfadc", d),
          kCoarse = 4, coarseIters = 1, m = 4, k = 8, iters = 1, dims = 64,
          trainedCoarse = Some(baseCoarse(s, d)),
          trainedBooks = Some(baseBooks(s, d)))
        val qv = Similarity.vectorOf(Tables.embeddings(s, d),
          "vec_id", "embedding", 0L)
        Similarity.ivfAdcProbeLayout(s, path, qv, k = 10, nprobe = 2,
          rescore = 50)
      },
      Some(adcAppendOracle)),

    Q("stream_inc_agg",
      "Structured Streaming maintains the incremental AGGREGATE the " +
        "same way it maintains the two index families: the historical " +
        "third of orders bootstraps batch 0, the file stream appends " +
        "each micro-batch's PARTIAL aggregate under the micro-batch id " +
        "(replay rewrites exactly its own subtree before re-marking — " +
        "exactly-once), and serving merges committed partials. " +
        "Stream == batch: the same full-recompute oracle as inc_agg.",
      (s, d) => {
        val path = graft.streaming.EventStream.runIncAggStream(s, d,
          scratch("graft_stream_incagg", d))
        IncrementalAgg.serve(s, path, "o_orderstatus")
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |  cast(sum(cast(o_totalprice AS DECIMAL(28,8))) AS DOUBLE)
             |    AS total,
             |  min(o_totalprice) AS min_v, max(o_totalprice) AS max_v,
             |  cast(sum(cast(o_totalprice AS DECIMAL(28,8))) AS DOUBLE)
             |    / count(*) AS avg_v
             |FROM orders
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    Q("stream_drift",
      "Structured Streaming runs the drift gate as an ingest MONITOR: " +
        "the reference snapshot's 16-bucket score histogram bootstraps " +
        "batch 0, each micro-batch appends its own bucket-count " +
        "partial under the commit-marker state machine, and serving " +
        "merges committed partials through the SAME chi-square tail as " +
        "the batch gate — bucket counts are algebraic, so " +
        "stream == batch bit-for-bit and dq_drift's oracle applies " +
        "verbatim. Per-batch cost is one narrow aggregate; the " +
        "reference is never rescanned.",
      (s, d) => {
        val path = graft.streaming.EventStream.runDriftStream(s, d,
          scratch("graft_stream_drift", d))
        graft.ops.Profile.driftServe(s, path)
      },
      Some(driftOracle)),

    Q("stream_active_users",
      "Structured Streaming maintains the DAU/WAU/MAU sketch store: " +
        "the historical half of events bootstraps batch 0's per-day " +
        "HLL sketches, each micro-batch appends its own daily " +
        "sketches under the commit-marker state machine, and serving " +
        "unions same-day sketches across committed batches before the " +
        "shared window expansion — per-refresh cost is one narrow " +
        "daily aggregate of the new files, and the board reads " +
        "days x batches sketch rows, never events. Gate: exact counts " +
        "hash-check (ev_active_users' oracle shape), the union's " +
        "estimate bounded within 5%.",
      (s, d) => {
        val path = graft.streaming.EventStream.runActiveUsersStream(s, d,
          scratch("graft_stream_au", d))
        EventOps.rollingActiveUsersServeSketch(s, path,
          Tables.events(s, d), "user_id", "ts", Seq(1, 7, 28), tol = 0.05)
      },
      Some(activeUsersSketchOracle)),

    Q("stream_upsert",
      "Structured Streaming maintains the UPSERT SNAPSHOT — the " +
        "mini-lakehouse MERGE loop: version 0 is the base customer " +
        "snapshot, the micro-batch derives the cdc_upsert change set " +
        "and applies the latest-wins merge against the latest " +
        "COMMITTED version, writing the result as version id+1 under " +
        "the commit-marker state machine (crash leaves the previous " +
        "version serving; replay recomputes from the same committed " +
        "parent, so the chain never forks). Serving the latest " +
        "version equals the batch merge, so cdc_upsert's oracle " +
        "applies verbatim — and the committed chain is snapshot time " +
        "travel for free (serveSnapshot asOf).",
      (s, d) => {
        val path = graft.streaming.EventStream.runUpsertStream(s, d,
          scratch("graft_stream_upsert", d),
          upsertChanges)
        graft.ops.Cdc.serveSnapshot(s, path).orderBy("c_custkey")
      },
      Some(upsertOracle)),

    Q("stream_funnel",
      "The five-stage funnel maintained INCREMENTALLY by a " +
        "flatMapGroupsWithState state machine (two fields per user: " +
        "depth + last-matched micros, bounded at any stream length), " +
        "fed in three event-time-ordered micro-batches and checked " +
        "against the SAME min-ts join-chain oracle as the batch " +
        "ev_funnel_n: stream == batch.",
      (s, d) => EventStream.runFunnelStream(s, d, funnelStages)
        .orderBy("stage_idx"),
      Some(funnelNOracle)),

    Q("stream_dedup_index",
      "Structured Streaming maintains the at-rest MinHash band index: " +
        "document file stream -> foreachBatch -> appendToBandIndex with " +
        "the micro-batch id as the index batch id — the exactly-once " +
        "maintenance pattern (streaming replay + same-id idempotent " +
        "append) on the FOURTH index family. Each micro-batch shingles " +
        "only itself; the band-df guard is recomputed at serve time " +
        "over the served union, so candidates from the streamed index " +
        "== a batch banding run over the same corpus and the " +
        "dedup_minhash oracle applies verbatim.",
      (s, d) => {
        val path = graft.streaming.EventStream.runBandIndexIngestStream(
          s, d, scratch("graft_stream_bidx", d))
        Dedup.bandIndexCandidates(s, path, "doc_id")
          .orderBy("id_a", "id_b")
      },
      Some(
        s"""WITH ${minhashPairCtes}
           |SELECT id_a, id_b, count(*) AS bands_matched
           |FROM pairs
           |GROUP BY 1, 2
           |ORDER BY id_a, id_b""".stripMargin)),

    Q("stream_late",
      "LATE DATA under a real event-time watermark: the events table " +
        "replays as on-time body (below an hour-aligned cutoff, minus " +
        "the event_id % 13 = 4 'arrives late' subset), then a second " +
        "batch of the tail PLUS the late subset, then a far-future " +
        "flush. The 1-hour watermark freezes after batch 1, so late " +
        "rows whose window closed at or before it are DROPPED while " +
        "late rows inside it still count — append mode then emits " +
        "every closed window once. Oracle: recompute the watermark " +
        "from the same batch-1 membership predicate " +
        "(millisecond-truncated, as Spark's EventTimeStats tracks it) " +
        "and aggregate events minus the dropped set — kept-vs-dropped " +
        "is hash-checked, not assumed.",
      (s, d) => graft.streaming.EventStream.runLateStream(s, d)
        .orderBy("hour_start", "event_type"),
      Some("""WITH bounds AS (
             |  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
             |  FROM events),
             |cut AS (
             |  SELECT ((lo + ((hi - lo) * 4) // 5) // 3600000000)
             |           * 3600000000 AS c_us
             |  FROM bounds),
             |wm AS (
             |  SELECT (max(epoch_us(ts)) // 1000 - 3600000) * 1000 AS wm_us
             |  FROM events, cut
             |  WHERE epoch_us(ts) < c_us AND NOT (event_id % 13 = 4)),
             |kept AS (
             |  SELECT e.* FROM events e, cut, wm
             |  WHERE NOT (e.event_id % 13 = 4
             |             AND epoch_us(e.ts) < c_us
             |             AND (epoch_us(e.ts) // 3600000000 + 1)
             |                   * 3600000000 <= wm.wm_us))
             |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             |         AS hour_start,
             |  event_type, count(*) AS n,
             |  cast(sum(cast(value AS DECIMAL(28,8))) AS DOUBLE) AS sum_value
             |FROM kept
             |GROUP BY 1, 2
             |ORDER BY hour_start, event_type""".stripMargin)),

    Q("stream_cms",
      "Streaming count-min maintenance: batch 0 seeds the sketch with " +
        "the even-id half's cell partials, the stream appends the odd " +
        "half's partials under the commit-marker state machine, and " +
        "serving sums committed cells — CMS cells are algebraic, so " +
        "the served sketch is BIT-IDENTICAL to a full-corpus rebuild, " +
        "which is exactly what the oracle computes (the ta_cms counter " +
        "CTE over all documents). Per-batch cost is one explode×4 " +
        "aggregate over the batch; history is never rescanned.",
      (s, d) => {
        val path = scratch("graft_stream_cms", d)
        graft.streaming.EventStream.runCmsStream(s, d, path)
        graft.streaming.EventStream.serveCmsStream(s, path)
          .orderBy("j", "bucket")
      },
      Some("""WITH toks AS (
             |  SELECT t.tok AS token
             |  FROM documents d,
             |       unnest(string_split_regex(trim(d.text), '\s+')) AS t(tok)
             |  WHERE t.tok <> '')
             |SELECT j, ('0x' || substring(md5(j::VARCHAR || ':' || token),
             |    1, 8))::BIGINT % 512 AS bucket, count(*) AS cnt
             |FROM toks, generate_series(0, 3) g(j)
             |GROUP BY 1, 2
             |ORDER BY j, bucket""".stripMargin)),

    Q("stream_graphann",
      "Structured Streaming maintains the at-rest graph index: the " +
        "base slice (vec_id % 4 <> 1) bootstraps batch 0's kNN graph, " +
        "the embedding file stream appends the held-out quarter via " +
        "foreachBatch + graphAnnAppendLayout (new nodes' exact " +
        "within-block top-k edges against committed + batch, " +
        "committed edges frozen) under the micro-batch id — a " +
        "replayed micro-batch rewrites exactly its own subtree, the " +
        "stream_ivf exactly-once contract on the graph index. The " +
        "single-file fixture arrives as ONE micro-batch, so the " +
        "frozen-edge append oracle applies with the 3/4-1/4 split.",
      (s, d) => {
        val path = graft.streaming.EventStream.runGraphAnnIngestStream(
          s, d, scratch("graft_stream_gann", d),
          kNbrs = GraphK)
        val q = graft.ops.Similarity.vectorOf(Tables.embeddings(s, d),
          "vec_id", "embedding", 0L)
        graft.ops.Similarity.graphAnnProbeLayout(s, path, q, k = 10,
          beam = GraphBeam, hops = GraphHops)
      },
      Some {
        val k = GraphK
        val beam = GraphBeam
        val dot = dotSql _
        val hops = (1 to GraphHops).map { i =>
          s"""c$i AS (
             |  SELECT vec_id FROM b${i - 1}
             |  UNION
             |  SELECT g.dst FROM g JOIN b${i - 1} s ON g.src = s.vec_id),
             |b$i AS MATERIALIZED (
             |  SELECT s.vec_id, s.cos FROM c$i JOIN sc s USING (vec_id)
             |  ORDER BY s.cos DESC, s.vec_id LIMIT $beam)""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings
           |  WHERE vec_id = 0),
           |nq AS (
           |  SELECT sqrt(${dot("qe", "qe")}) AS nrm
           |  FROM q, generate_series(1, 64) g(i)),
           |ne AS MATERIALIZED (
           |  SELECT vec_id, sqrt(${dot("embedding", "embedding")}) AS nrm
           |  FROM embeddings, generate_series(1, 64) g(i) GROUP BY vec_id),
           |dots AS MATERIALIZED (
           |  SELECT e.vec_id, ${dot("e.embedding", "q.qe")} AS dot
           |  FROM embeddings e, q, generate_series(1, 64) g(i)
           |  GROUP BY e.vec_id),
           |sc AS MATERIALIZED (
           |  SELECT d.vec_id, d.dot / (ne.nrm * nq.nrm) AS cos
           |  FROM dots d JOIN ne USING (vec_id), nq),
           |pd0 AS MATERIALIZED (
           |  SELECT a.vec_id AS src, b.vec_id AS dst,
           |    ${dot("a.embedding", "b.embedding")} AS dot
           |  FROM embeddings a JOIN embeddings b
           |    ON a.label = b.label AND a.vec_id <> b.vec_id
           |   AND a.vec_id % 4 <> 1 AND b.vec_id % 4 <> 1,
           |    generate_series(1, 64) g(i)
           |  GROUP BY a.vec_id, b.vec_id),
           |g0 AS (
           |  SELECT src, dst FROM (
           |    SELECT p.src, p.dst,
           |      row_number() OVER (PARTITION BY p.src
           |        ORDER BY p.dot / (na.nrm * nb.nrm) DESC, p.dst) AS rn
           |    FROM pd0 p JOIN ne na ON na.vec_id = p.src
           |         JOIN ne nb ON nb.vec_id = p.dst)
           |  WHERE rn <= $k),
           |pd1 AS MATERIALIZED (
           |  SELECT a.vec_id AS src, b.vec_id AS dst,
           |    ${dot("a.embedding", "b.embedding")} AS dot
           |  FROM embeddings a JOIN embeddings b
           |    ON a.label = b.label AND a.vec_id <> b.vec_id
           |   AND a.vec_id % 4 = 1,
           |    generate_series(1, 64) g(i)
           |  GROUP BY a.vec_id, b.vec_id),
           |g1 AS (
           |  SELECT src, dst FROM (
           |    SELECT p.src, p.dst,
           |      row_number() OVER (PARTITION BY p.src
           |        ORDER BY p.dot / (na.nrm * nb.nrm) DESC, p.dst) AS rn
           |    FROM pd1 p JOIN ne na ON na.vec_id = p.src
           |         JOIN ne nb ON nb.vec_id = p.dst)
           |  WHERE rn <= $k),
           |g AS MATERIALIZED (
           |  SELECT src, dst FROM g0 UNION ALL SELECT src, dst FROM g1),
           |entries AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id,
           |      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
           |    FROM embeddings) WHERE rn = 1),
           |b0 AS MATERIALIZED (
           |  SELECT s.vec_id, s.cos FROM entries e JOIN sc s USING (vec_id)
           |  ORDER BY s.cos DESC, s.vec_id LIMIT $beam),
           |$hops
           |SELECT vec_id, cos AS cos_sim FROM b${GraphHops}
           |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
      }),

    Q("stream_abtest",
      "Structured Streaming runs the A/B EXPERIMENT MONITOR: even-id " +
        "events bootstrap batch 0's per-user exposure/conversion " +
        "flags, each micro-batch appends its own users' flags under " +
        "the commit-marker machinery (per-batch cost = one user " +
        "aggregate of the new files; flags are max-MERGEABLE), and " +
        "serving merges committed flags by per-user max into the " +
        "shared 2x2 readout. Stream == batch: the same oracle as " +
        "ev_abtest.",
      (s, d) => graft.streaming.EventStream.runAbTestStream(s, d,
        scratch("graft_stream_abtest", d)),
      Some(abtestSql)),

    Q("stream_checksum",
      "Structured Streaming maintains the TABLE FINGERPRINT: the " +
        "historical third of lineitem bootstraps batch 0's checksum " +
        "partial (count, decimal hash sum, xor, max - all algebraic), " +
        "each micro-batch appends its own 1-row partial under the " +
        "micro-batch id (idempotent marker-committed write), and " +
        "serving merges committed partials - bit-identical to one " +
        "batch pass over everything ingested, which is what the " +
        "shared dq_checksum oracle checks. The ingest audit stays " +
        "current at O(batch) per refresh; history is never rescanned.",
      (s, d) => {
        val path = graft.streaming.EventStream.runChecksumStream(s, d,
          scratch("graft_stream_checksum", d))
        Profile.checksumServe(s, path)
      },
      Some("""WITH h AS (
             |  SELECT CAST(('0x' || substring(md5(
             |    CAST(l_orderkey AS VARCHAR) || chr(1) ||
             |    CAST(l_partkey AS VARCHAR) || chr(1) ||
             |    CAST(l_suppkey AS VARCHAR) || chr(1) ||
             |    CAST(l_linenumber AS VARCHAR) || chr(1) ||
             |    l_returnflag || chr(1) || l_linestatus || chr(1) ||
             |    strftime(l_shipdate, '%Y-%m-%d')), 1, 15)) AS BIGINT)
             |    AS hh
             |  FROM lineitem)
             |SELECT count(*) AS n_rows,
             |  CAST(CAST(sum(hh) AS DECIMAL(38,0)) AS VARCHAR)
             |    AS checksum_sum,
             |  bit_xor(hh) AS checksum_xor,
             |  max(hh) AS checksum_max
             |FROM h""".stripMargin)),

    Q("stream_quantiles",
      "Structured Streaming maintains the QUANTILE SKETCH: the " +
        "historical half of events bootstraps batch 0's equi-width " +
        "histogram partial under a FROZEN (lo, hi, 256) geometry (the " +
        "profiling-pass analogue of frozen quantizers), each " +
        "micro-batch appends its own <= 256-row count partial, and " +
        "serving locates each quantile's bin from the merged counts - " +
        "identical to the batch histogram because counts merge by " +
        "addition. Gated against the exact order statistics: exact " +
        "values hash-check cross-engine, within_bin bounds the sketch " +
        "error to one bin width.",
      (s, d) => {
        val ev = Tables.events(s, d)
        val b = ev.agg(min(col("value")), max(col("value"))).head()
        val (lo, hi) = (b.getDouble(0), b.getDouble(1))
        val path = graft.streaming.EventStream.runQuantilesStream(s, d,
          scratch("graft_stream_quant", d),
          lo, hi, 256)
        Profile.quantileSketchServe(s, path, ev, "value",
          Seq(0.5, 0.9, 0.99), lo, hi, 256)
      },
      Some("""WITH v AS (
             |  SELECT value::DOUBLE AS v FROM events
             |  WHERE value IS NOT NULL),
             |st AS (SELECT count(*) AS n, min(v) AS lo, max(v) AS hi
             |       FROM v),
             |h AS (
             |  SELECT CAST(greatest(least(floor((v - lo) /
             |    ((hi - lo) / 256.0)), 255), 0) AS INT) AS b,
             |    count(*) AS c
             |  FROM v, st GROUP BY 1),
             |qs(q) AS (VALUES (0.5::DOUBLE), (0.9::DOUBLE),
             |                 (0.99::DOUBLE)),
             |cumh AS (SELECT b, sum(c) OVER (ORDER BY b) AS cum FROM h),
             |loc AS (
             |  SELECT qs.q, min(cumh.b) AS bin
             |  FROM qs, st, cumh
             |  WHERE cumh.cum >=
             |    greatest(CAST(ceil(qs.q * st.n) AS BIGINT), 1)
             |  GROUP BY qs.q),
             |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
             |ex AS (
             |  SELECT qs.q,
             |    (SELECT r.v FROM r, st
             |     WHERE rn = greatest(CAST(ceil(qs.q * st.n) AS BIGINT),
             |                         1)) AS exact
             |  FROM qs)
             |SELECT ex.q, ex.exact,
             |  st.lo + loc.bin * ((st.hi - st.lo) / 256.0) AS est_sketch,
             |  abs(ex.exact -
             |    (st.lo + loc.bin * ((st.hi - st.lo) / 256.0)))
             |    <= ((st.hi - st.lo) / 256.0) AS within_bin
             |FROM ex JOIN loc ON loc.q = ex.q, st
             |ORDER BY ex.q""".stripMargin)),

    Q("stream_forecast",
      "Structured Streaming maintains the forecast backtest's daily " +
        "counts: the historical half of events bootstraps batch 0's " +
        "(type, day) count partial, each micro-batch appends its own " +
        "(counts merge by addition), and serving merges committed " +
        "partials before the SAME backtestFromDaily tail as the batch " +
        "operator - so the streaming-maintained backtest scores the " +
        "identical forecast, checked by ev_forecast's oracle verbatim. " +
        "Per-refresh cost: one narrow aggregate of the new files.",
      (s, d) => {
        val path = graft.streaming.EventStream.runForecastStream(s, d,
          scratch("graft_stream_forecast", d))
        EventOps.backtestServe(s, path, season = 7, holdout = 7)
      },
      Some("""WITH daily AS (
             |  SELECT event_type, ts::DATE AS day, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
             |grid AS (
             |  SELECT t.event_type,
             |    CAST(unnest(generate_series(b.d0::TIMESTAMP,
             |      b.d1::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS day,
             |    CAST(b.d1 - DATE '1970-01-01' AS BIGINT) AS d1i
             |  FROM (SELECT DISTINCT event_type FROM daily) t, b),
             |full0 AS (
             |  SELECT g.event_type,
             |    CAST(g.day - DATE '1970-01-01' AS BIGINT) AS di,
             |    g.d1i, COALESCE(d.n, 0) AS n
             |  FROM grid g LEFT JOIN daily d
             |    ON d.event_type = g.event_type AND d.day = g.day),
             |fc AS (
             |  SELECT event_type, di, d1i, n,
             |    lag(n, 7) OVER (PARTITION BY event_type ORDER BY di)
             |      AS f
             |  FROM full0)
             |SELECT event_type, count(*) AS n_days,
             |  CAST(sum(n) AS BIGINT) AS total_actual,
             |  CAST(sum(f) AS BIGINT) AS total_forecast,
             |  CAST(sum(abs(n - f)) AS BIGINT) AS abs_err,
             |  CAST(sum(abs(n - f)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             |    AS mae,
             |  CAST(sum(n) - sum(f) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             |    AS bias
             |FROM fc WHERE di > d1i - 7 AND f IS NOT NULL
             |GROUP BY event_type ORDER BY event_type""".stripMargin))
  )
}
