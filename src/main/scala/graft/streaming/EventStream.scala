package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.ops.{Dedup, Retrieval, Similarity}

/** Structured Streaming surface (SURVEY.md §2.9 — extension surface; the
  * reference is batch-only, the `events` fixture enables the demo).
  *
  * The same tumbling-window aggregation is exposed two ways:
  *  - [[windowedAggBatch]]: the batch plan (used by the oracle-checked
  *    `ev_window` query);
  *  - [[runWindowedStream]]: a real `readStream → window agg → memory
  *    sink` run, driven synchronously with processAllAvailable() so the
  *    verify harness can assert stream ≡ batch on the same files.
  *
  * At scale the source becomes Kafka/file-notification, the trigger is
  * continuous micro-batch, and `withWatermark` bounds state; the plan
  * itself (window + partial agg + state store) is unchanged.
  */
object EventStream {

  private val dec = DecimalType(28, 8)

  /** Stateful streaming queries fix their state-store partition count at
    * query start from `spark.sql.shuffle.partitions` (AQE never applies to
    * streaming). Each micro-batch then pays a state-store commit PER
    * PARTITION — a fixed file-I/O cost that has nothing to do with row
    * volume. At local/fixture scale that overhead dominates (32 partitions
    * × several stateful operators × batches of ~100k rows), so the
    * runners below plan their streams with a smaller state partition
    * count and restore the session conf right after. A production
    * deployment sizes this to the cluster (state partitions are the
    * parallelism AND the state-shard unit — they cannot change without a
    * checkpoint rebuild, so real pipelines pick the scale-out value up
    * front and local demos should not inherit it).
    */
  private val StatePartitions = 4

  /** Unique active-query / memory-sink name per invocation: a fixed
    * name would collide with a concurrent run of the same entry point
    * ("duplicate active query") and a sequential re-run would replace
    * the memory-sink temp view under an unconsumed earlier result. */
  private def uniqueQueryName(prefix: String): String =
    prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "")

  private def withStatePartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, StatePartitions.toString)
    try body finally spark.conf.set(key, prev)
  }

  private def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(dec)).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))

  def windowedAggBatch(spark: SparkSession, sfDir: String): DataFrame =
    windowedAgg(Tables.events(spark, sfDir))

  /** Run the streaming version over the same parquet file(s) and return the
    * complete-mode result table. Watermark is declared (bounding state in a
    * live deployment) even though complete mode retains all windows.
    */
  def runWindowedStream(spark: SparkSession, sfDir: String,
                        queryNamePrefix: String = "graft_events_stream"): DataFrame =
    withStatePartitions(spark) {
    val queryName = uniqueQueryName(queryNamePrefix)
    val schema = Tables.parquet(spark, s"$sfDir/events.parquet").schema
    // file-stream sources need a directory; glob-filter to the events file
    val stream = Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
    val agg = windowedAgg(stream.withWatermark("ts", "2 hours"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
    }

  /** Streaming sessionization: `readStream → withWatermark →
    * session_window agg → APPEND-mode memory sink`, driven to completion.
    *
    * Append mode only emits a session once the event-time watermark
    * passes its close — the semantics a production pipeline runs with
    * (bounded state, emit-once). A batch-parity harness therefore has to
    * ADVANCE the watermark past every open session after the real data is
    * consumed: the source is staged into a scratch directory and, after
    * the first `processAllAvailable()`, a single far-future flush row
    * (user_id = -1) is appended as a second file — exactly the "one more
    * event proves the gap" trick StatefulSessionsSpec plays with
    * MemoryStream, here through a real file source. The flush row's own
    * (still-open) session is filtered back out.
    *
    * Result matches the ev_sessionize batch query / lag+cumsum oracle
    * row-for-row (stream ≡ batch on the same files).
    */
  def runSessionStream(spark: SparkSession, sfDir: String,
                       queryNamePrefix: String = "graft_session_stream",
                       gap: String = "30 minutes"): DataFrame =
    withStatePartitions(spark) {
    val queryName = uniqueQueryName(queryNamePrefix)
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(sfDir, "events.parquet")
    val dir = Files.createTempDirectory("graft_sess_src")
    Files.copy(src, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val schema = Tables.parquet(spark, src.toString).schema
    val stream = Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString))
    val us = unix_micros(col("ts"))
    val agg = stream
      .withWatermark("ts", "1 second")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(us) - min(us)).as("duration_us"),
        min(us).as("session_start_us"),
        sum(col("value").cast(dec)).cast("double").as("sum_value"))
      .select("user_id", "session_start_us", "n_events", "duration_us", "sum_value")
    val q = agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
    try {
      q.processAllAvailable()
      // watermark flush: one far-future row closes every real session.
      // The flush value must match the RAW file schema (pre-normalizeTs),
      // whose ts physical type varies by driver data generation — int64
      // nanos or naive TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ).
      val maxRaw = Tables.parquet(spark, src.toString)
        .agg(max(col("ts"))).head().get(0)
      val farTs: Any = maxRaw match {
        case ns: java.lang.Long => ns + 366L * 24 * 3600 * 1000000000L
        case ldt: java.time.LocalDateTime => ldt.plusDays(366)
        case t: java.sql.Timestamp =>
          java.sql.Timestamp.from(t.toInstant.plus(java.time.Duration.ofDays(366)))
        case other => throw new IllegalStateException(
          s"unexpected raw ts type: ${other.getClass}")
      }
      val flush = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(-1L, farTs, -1L, "flush", 0.0, "{}")),
        schema)
      flush.coalesce(1).write.mode("append").parquet(dir.toString)
      q.processAllAvailable()
    } finally {
      q.stop()
      // the memory sink owns the results now; drop the staged source copy
      try {
        import scala.jdk.CollectionConverters._
        Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
    }
    spark.table(queryName).filter(col("user_id") >= 0)
    }

  /** Streaming deduplication: `dropDuplicates` over a key set as a
    * stateful streaming op — the streaming face of the corpus-dedup
    * suite. Append mode emits each key's FIRST occurrence immediately
    * and keeps key state to suppress repeats; `withWatermark` bounds
    * that state for keys embedding event time (state for hours the
    * watermark has passed is dropped — at 100 TB/day the difference
    * between bounded and unbounded key state). Only the key columns are
    * emitted, so the result is the deterministic distinct-key SET
    * (which survivor row wins is arbitrary in ANY engine).
    */
  def runDedupStream(spark: SparkSession, sfDir: String,
                     queryNamePrefix: String = "graft_dedup_stream"): DataFrame =
    withStatePartitions(spark) {
    val queryName = uniqueQueryName(queryNamePrefix)
    val schema = Tables.parquet(spark, s"$sfDir/events.parquet").schema
    val stream = Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
    val keyed = stream
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hour_start"), col("ts"))
      .dropDuplicates("user_id", "event_type", "hour_start")
      .select("user_id", "event_type", "hour_start")
    val q = keyed.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
    }

  /** Stream-stream interval join: purchases ⋈ views on user within
    * [purchase − 1h, purchase] — the canonical hard Structured Streaming
    * op. Both sides are `readStream`s with watermarks; the event-time
    * range condition is what lets Spark BOUND the join state (a side's
    * buffered rows are dropped once the other side's watermark passes
    * the range) — without it a stream-stream join's state grows forever.
    * Inner-join matches emit as soon as both rows arrive, so the harness
    * needs no watermark-flush trick here; the watermark's job is state
    * eviction, which is exactly what a 100 TB/day deployment cares about.
    *
    * Checked against the identical batch interval-join oracle
    * (stream ≡ batch).
    */
  def runIntervalJoinStream(spark: SparkSession, sfDir: String,
                            queryNamePrefix: String = "graft_interval_join"): DataFrame =
    withStatePartitions(spark) {
    val queryName = uniqueQueryName(queryNamePrefix)
    val schema = Tables.parquet(spark, s"$sfDir/events.parquet").schema
    def side(): DataFrame = Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
    val p = side().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_event"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val v = side().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_event"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val joined = p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"))
      .select(col("p_user").as("user_id"), col("p_event"),
        unix_micros(col("p_ts")).as("p_us"),
        col("v_event"), unix_micros(col("v_ts")).as("v_us"))
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
    }

  /** Streaming CURATION: the batch corpus-curation entry composed as an
    * incremental query — quality gate (pure scan-stage expression, the
    * same [[graft.ops.TextAnalysis.qualityScore]] the batch path runs)
    * feeding streaming exact-dedup (`dropDuplicates` on the text's md5
    * fingerprint, the stateful op behind `stream_dedup`). Append mode
    * emits each fingerprint's FIRST arrival and suppresses repeats, so
    * incremental ingest keeps the curated corpus exactly-once-per-text.
    *
    * Only the fingerprint column is emitted: which raw row arrives first
    * is micro-batch-order-dependent in any engine, while the surviving
    * KEY SET is deterministic — the same keys-only contract as
    * `stream_dedup`, making the result ≡ the batch
    * `SELECT DISTINCT md5(text) WHERE quality ≥ τ`.
    *
    * Documents carry no event time, so the key state is unbounded here;
    * a production deployment keys by (ingest_date, fp) under
    * `dropDuplicatesWithinWatermark` to bound it — the plan (filter →
    * stateful dedup) is unchanged.
    */
  def runCurationStream(spark: SparkSession, sfDir: String,
                        minQuality: Double = 0.5,
                        queryNamePrefix: String = "graft_curation_stream"): DataFrame =
    withStatePartitions(spark) {
    val queryName = uniqueQueryName(queryNamePrefix)
    val schema = Tables.parquet(spark, s"$sfDir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
    val curated = stream
      .filter(graft.ops.TextAnalysis.qualityScore(col("text")) >= minQuality)
      .select(md5(col("text")).as("fp"))
      .dropDuplicates("fp")
    val q = curated.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
    }

  /** Streaming INDEX ingest: file stream of documents → `foreachBatch` →
    * [[graft.ops.Retrieval.appendToIndex]], micro-batch id as the index
    * batch id. The two idempotency layers compose into end-to-end
    * exactly-once index maintenance: Structured Streaming REPLAYS a
    * failed micro-batch under the SAME id, and appendToIndex's retry
    * overwrites exactly that batch's subdirectories and re-marks it — a
    * crash at any point (mid-postings, between postings and stats,
    * before the commit marker) converges to the same committed index.
    * The serve result is defined ≡ a batch build over the same corpus
    * (the append-equivalence contract RetrievalSpec pins), which is what
    * lets the `stream_index` query reuse ta_bm25's oracle verbatim.
    *
    * Returns the index path; callers serve from it with
    * [[graft.ops.Retrieval.bm25FromIndex]].
    */
  def runIndexIngestStream(spark: SparkSession, sfDir: String,
                           path: String): String =
    withStatePartitions(spark) {
      val schema = Tables.parquet(spark, s"$sfDir/documents.parquet").schema
      // reset: batch 0 is an empty full build owning the directory; every
      // micro-batch then appends as batch id+1 (appendToIndex requires >0)
      Retrieval.writeIndex(
        spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
          schema),
        "doc_id", "text", path)
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          Retrieval.appendToIndex(df, "doc_id", "text", path, batchId = id + 1)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      path
    }

  /** Streaming DEDUP-index ingest: document file stream →
    * `foreachBatch` → [[graft.ops.Dedup.appendToBandIndex]] — the
    * [[runIndexIngestStream]] pattern on the FOURTH index family (the
    * at-rest MinHash band table). Each micro-batch is shingled/hashed
    * alone (cost ∝ batch) and its (id, band, h) rows land under the
    * micro-batch id; a replayed micro-batch rewrites exactly its own
    * subtree. Serving candidates from the streamed index ≡ one banding
    * pass over the union (the band-df guard is a serve-time window),
    * so the batch dedup_minhash oracle gates the streamed index
    * verbatim.
    */
  def runBandIndexIngestStream(spark: SparkSession, sfDir: String,
                               path: String): String =
    withStatePartitions(spark) {
      val schema = Tables.parquet(spark, s"$sfDir/documents.parquet").schema
      // batch 0 = an empty full build owning the directory
      Dedup.writeBandIndex(
        spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
          schema),
        "doc_id", "text", path)
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          Dedup.appendToBandIndex(df, "doc_id", "text", path,
            batchId = id + 1)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      path
    }

  /** Streaming VECTOR-index ingest: embedding file stream →
    * `foreachBatch` → [[graft.ops.Similarity.ivfAppendLayout]], the
    * micro-batch id as the layout batch id — the
    * [[runIndexIngestStream]] pattern applied to the IVF layout. The
    * quantizer is the index's identity, so the layout is BOOTSTRAPPED
    * first (train + write the base slice as batch 0 with the persisted
    * centroids); the stream then assigns each arriving micro-batch with
    * those same centroids and appends it — no retraining, no table
    * rewrite, per-ingest cost ∝ the batch. Idempotency composes exactly
    * as on the text index: streaming replays a failed micro-batch under
    * the SAME id, the append retry rewrites exactly its own `batch=<id>`
    * subtree and re-marks it, and an empty micro-batch writes a legal
    * schema-bearing empty unit. Serving the streamed layout ≡ one
    * assignment pass over the union (the SimilaritySpec append
    * contract), which lets the `stream_ivf` query reuse the
    * sim_ivf_append oracle shape verbatim.
    *
    * `bootstrapFilter`/`streamFilter` split the fixture table into the
    * trained base and the streamed remainder; returns the layout path
    * for [[graft.ops.Similarity.ivfProbeLayout]] serving.
    */
  def runIvfIngestStream(spark: SparkSession, sfDir: String, path: String,
                         kClusters: Int, iters: Int): String =
    withStatePartitions(spark) {
      val emb = Tables.parquet(spark, s"$sfDir/embeddings.parquet")
      Similarity.ivfWriteLayout(emb.filter(col("vec_id") % 4 =!= 1),
        "vec_id", "embedding", path, kClusters, iters)
      val stream = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          Similarity.ivfAppendLayout(df.filter(col("vec_id") % 4 === 1),
            "vec_id", "embedding", path, batchId = id + 1)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      path
    }

  /** Streaming ingest for the COMPRESSED vector index —
    * [[runIvfIngestStream]] on the IVFADC layout: bootstrap trains the
    * coarse quantizer + residual codebooks on the base slice and writes
    * batch 0 (optionally from injected `trainedCoarse`/`trainedBooks` —
    * the one-training-many-consumers seam); each arriving micro-batch is
    * then ENCODED with the persisted quantizer pair and appended via
    * [[graft.ops.Similarity.ivfAdcAppendLayout]] under the micro-batch
    * id. Same exactly-once story (same-id replay rewrites exactly its
    * own `batch=<id>` subtree); per-ingest cost is encode-the-batch —
    * the quantizers are never retrained on the hot path.
    */
  def runIvfAdcIngestStream(spark: SparkSession, sfDir: String, path: String,
                            kCoarse: Int, coarseIters: Int, m: Int, k: Int,
                            iters: Int, dims: Int,
                            trainedCoarse: Option[Seq[Seq[Double]]] = None,
                            trainedBooks: Option[Seq[Seq[Seq[Double]]]] = None): String =
    withStatePartitions(spark) {
      val emb = Tables.parquet(spark, s"$sfDir/embeddings.parquet")
      Similarity.ivfAdcWriteLayout(emb.filter(col("vec_id") % 4 =!= 1),
        "vec_id", "embedding", path, kCoarse, coarseIters, m, k, iters,
        dims, trainedCoarse, trainedBooks)
      val stream = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          Similarity.ivfAdcAppendLayout(df.filter(col("vec_id") % 4 === 1),
            "vec_id", "embedding", path, batchId = id + 1)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      path
    }

  /** Streaming ingest for the at-rest GRAPH index — [[runIvfIngestStream]]
    * on the graph layout: the base slice bootstraps batch 0's kNN graph,
    * each arriving micro-batch inserts its new nodes via
    * [[graft.ops.Similarity.graphAnnAppendLayout]] (exact within-block
    * top-k edges against committed ∪ batch, committed edges frozen)
    * under the micro-batch id. Same exactly-once story: a replayed
    * micro-batch rewrites exactly its own `batch=<id>` subtree.
    */
  def runGraphAnnIngestStream(spark: SparkSession, sfDir: String,
                              path: String, kNbrs: Int): String =
    withStatePartitions(spark) {
      val emb = Tables.parquet(spark, s"$sfDir/embeddings.parquet")
      graft.ops.Similarity.graphAnnWriteLayout(
        emb.filter(col("vec_id") % 4 =!= 1),
        "vec_id", "embedding", "label", path, kNbrs)
      val stream = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          graft.ops.Similarity.graphAnnAppendLayout(
            df.filter(col("vec_id") % 4 === 1),
            "vec_id", "embedding", "label", path, kNbrs,
            batchId = id + 1)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      path
    }

  /** Streaming EXACTLY-ONCE relational sink: file stream → `foreachBatch`
    * → [[graft.ops.Sinks.idempotentBatchAppend]] (stage → atomic
    * ledger+publish transaction per micro-batch). The two layers compose
    * into end-to-end exactly-once:
    *
    *  - Structured Streaming's checkpoint gives each micro-batch a STABLE
    *    batch id and replays it after any failure;
    *  - the idempotent append publishes a given id at most once (the
    *    ledger row commits in the same transaction as the INSERT), so a
    *    replay of a published batch is a no-op and a replay of a batch
    *    that crashed mid-publish completes it.
    *
    * A crash ANYWHERE — before staging, after staging, even between the
    * publish transaction and sink-side cleanup — therefore never loses
    * and never duplicates rows (the spec drives the worst window with the
    * `beforePublish` fault seam and a checkpoint restart).
    *
    * At 100 TB this is the standard CDC-grade lake→warehouse pattern:
    * the checkpoint is the source of batch identity, the warehouse
    * transaction is the visibility point, and neither side needs
    * distributed 2PC.
    *
    * @param beforePublish fault-injection seam, called with each batch id
    *                      after staging and before the atomic publish
    * @return number of micro-batches the run attempted
    */
  def runExactlyOnceJdbc(spark: SparkSession, sfDir: String, url: String,
                         checkpointDir: String, dataTable: String,
                         ledgerTable: String,
                         beforePublish: Long => Unit = _ => ()): Long =
    withStatePartitions(spark) {
      val schema = Tables.parquet(spark, s"$sfDir/events.parquet").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      var batches = 0L
      val q = stream.writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (df: DataFrame, id: Long) =>
          batches += 1
          graft.ops.Sinks.idempotentBatchAppend(df, id, url, ledgerTable,
            dataTable, beforePublish = () => beforePublish(id))
          ()
        }
        .start()
      try {
        q.processAllAvailable()
        // surface a micro-batch failure (e.g. the injected fault) to the
        // caller the way a production driver would see it
        q.exception.foreach(e => throw e)
      } finally q.stop()
      batches
    }

  /** Structured Streaming maintains the incremental AGGREGATE the same
    * way it maintains the two index families: the historical slice
    * (o_orderkey % 3 = 0) bootstraps batch 0; the file stream then
    * appends each arriving micro-batch's PARTIAL aggregate via
    * [[graft.ops.IncrementalAgg.writeBatch]] under the micro-batch id —
    * the streaming-materialized-view shape where refresh cost is the
    * new batch's narrow aggregate, never a history rescan. Same
    * exactly-once story as the index ingests: a replayed id rewrites
    * exactly its own `batch=<id>` subtree before re-marking.
    */
  def runIncAggStream(spark: SparkSession, sfDir: String,
                      path: String): String =
    withStatePartitions(spark) {
      val orders = Tables.parquet(spark, s"$sfDir/orders.parquet")
      graft.ops.IncrementalAgg.writeBatch(
        graft.ops.IncrementalAgg.partials(
          orders.filter(col("o_orderkey") % 3 === 0),
          "o_orderstatus", "o_totalprice"),
        path, 0L)
      val stream = spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          graft.ops.IncrementalAgg.writeBatch(
            graft.ops.IncrementalAgg.partials(
              df.filter(col("o_orderkey") % 3 =!= 0),
              "o_orderstatus", "o_totalprice"),
            path, id + 1)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      path
    }

  /** Structured Streaming maintains the QUANTILE SKETCH: the historical
    * half of events (even ids) bootstraps batch 0's equi-width
    * histogram partial under a FROZEN (lo, hi, bins) geometry — the
    * profiling-pass analogue of the ADC layout's persisted quantizers —
    * and each arriving micro-batch appends its own ≤ bins-row count
    * partial under the micro-batch id. Histogram counts merge by
    * addition, so the served per-quantile bin (and its one-bin-width
    * error bound) is identical to the batch histogram over everything
    * ingested; [[graft.ops.Profile.quantileSketchServe]] gates that
    * against the exact order statistics. Per-refresh cost: one narrow
    * aggregate of the new files.
    */
  def runQuantilesStream(spark: SparkSession, sfDir: String, path: String,
                         lo: Double, hi: Double, bins: Int): String =
    withStatePartitions(spark) {
      val ev = Tables.events(spark, sfDir)
      graft.ops.IncrementalAgg.writeBatch(
        graft.ops.Profile.histogramPartials(
          ev.filter(col("event_id") % 2 === 0), "value", lo, hi, bins),
        path, 0L)
      val raw = Tables.parquet(spark, s"$sfDir/events.parquet")
      val stream = spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          graft.ops.IncrementalAgg.writeBatch(
            graft.ops.Profile.histogramPartials(
              df.filter(col("event_id") % 2 =!= 0), "value", lo, hi, bins),
            path, id + 1)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      path
    }

  /** Structured Streaming maintains the FORECAST BACKTEST's daily
    * counts: the historical half of events (even ids) bootstraps batch
    * 0's (type, day) count partial, each micro-batch appends its own
    * (counts merge by addition — the same algebraic-partial contract
    * as the incremental aggregate), and serving merges committed
    * partials before the shared [[graft.ops.EventOps.backtestFromDaily]]
    * tail — so the streaming-maintained backtest scores the identical
    * forecast as the batch operator, which is what the shared
    * ev_forecast oracle checks.
    */
  def runForecastStream(spark: SparkSession, sfDir: String,
                        path: String): String =
    withStatePartitions(spark) {
      val ev = Tables.events(spark, sfDir)
      graft.ops.IncrementalAgg.writeBatch(
        graft.ops.EventOps.dailyTypeCounts(
          ev.filter(col("event_id") % 2 === 0), "ts", "event_type"),
        path, 0L)
      val raw = Tables.parquet(spark, s"$sfDir/events.parquet")
      val stream = spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          graft.ops.IncrementalAgg.writeBatch(
            graft.ops.EventOps.dailyTypeCounts(
              Tables.normalizeTs(df)
                .filter(col("event_id") % 2 =!= 0), "ts", "event_type"),
            path, id + 1)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      path
    }

  /** Structured Streaming maintains the TABLE FINGERPRINT: the
    * historical third of lineitem bootstraps batch 0's checksum partial
    * (count, decimal hash sum, xor, max — all algebraic), each arriving
    * micro-batch appends its own 1-row partial under the micro-batch id
    * ([[graft.ops.IncrementalAgg.writeBatch]]'s idempotent
    * marker-committed write), and serving merges committed partials
    * into the fingerprint bit-identical to ONE batch pass over
    * everything ingested — which is what the shared dq_checksum oracle
    * checks. The ingest-audit pattern: "does what we ingested still
    * multiset-equal the source?" stays answerable after every
    * micro-batch from batches-sized rows, history never rescanned.
    */
  def runChecksumStream(spark: SparkSession, sfDir: String,
                        path: String): String =
    withStatePartitions(spark) {
      val li = Tables.parquet(spark, s"$sfDir/lineitem.parquet")
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_returnflag", "l_linestatus", "ship_day")
      def canon(df: DataFrame): DataFrame =
        df.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("l_returnflag"), col("l_linestatus"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
      graft.ops.IncrementalAgg.writeBatch(
        graft.ops.Profile.checksumPartials(
          canon(li.filter(col("l_orderkey") % 3 === 0)), cols),
        path, 0L)
      val stream = spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "lineitem.parquet")
        .parquet(sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          graft.ops.IncrementalAgg.writeBatch(
            graft.ops.Profile.checksumPartials(
              canon(df.filter(col("l_orderkey") % 3 =!= 0)), cols),
            path, id + 1)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      path
    }

  /** Structured Streaming runs the DRIFT GATE as a monitor: the
    * reference snapshot's score histogram bootstraps batch 0 (written
    * once — the reference never rescans), and each arriving micro-batch
    * appends its own bucket-count partial via
    * [[graft.ops.Profile.driftPartials]] under the micro-batch id.
    * Serving merges the committed partials and scores chi-square —
    * bit-identical to the batch gate over the same rows, because bucket
    * counts are algebraic and the scoring tail is shared code. This is
    * the shape a production ingest monitor runs: per-batch cost is one
    * narrow aggregate of the new files, and "has this feed drifted off
    * the reference?" is answerable after every micro-batch from
    * buckets × batches tiny rows.
    */
  /** Structured Streaming maintains the ACTIVE-USERS sketch store: the
    * historical half of events (even ids) bootstraps batch 0's per-day
    * HLL sketches, each arriving micro-batch appends its own daily
    * sketches under the micro-batch id, and serving unions same-day
    * sketches across committed batches before the window expansion —
    * per-refresh cost is one narrow daily aggregate of the new files,
    * and the DAU/WAU/MAU board is answerable after every micro-batch
    * from days × batches sketch rows.
    */
  def runActiveUsersStream(spark: SparkSession, sfDir: String,
                           path: String): String =
    withStatePartitions(spark) {
      val ev = Tables.events(spark, sfDir)
      graft.ops.IncrementalAgg.writeBatch(
        graft.ops.EventOps.dailyUserSketches(
          ev.filter(col("event_id") % 2 === 0), "user_id", "ts"),
        path, 0L)
      val raw = Tables.parquet(spark, s"$sfDir/events.parquet")
      val stream = spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          graft.ops.IncrementalAgg.writeBatch(
            graft.ops.EventOps.dailyUserSketches(
              Tables.normalizeTs(df)
                .filter(col("event_id") % 2 === 1), "user_id", "ts"),
            path, id + 1)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      path
    }

  /** Structured Streaming runs the A/B EXPERIMENT MONITOR: the
    * historical half of events (even ids) bootstraps batch 0's
    * per-user exposure/conversion flags, each arriving micro-batch
    * appends ITS OWN users' flags under the micro-batch id (per-batch
    * cost is one user aggregate of the new files — flags are
    * max-mergeable, the experiment analogue of the sketch partials),
    * and serving merges committed flags by per-user max before the
    * shared 2×2 readout — bit-identical to batch
    * [[graft.ops.EventOps.abTest]] over the same rows, which is the
    * oracle.
    */
  def runAbTestStream(spark: SparkSession, sfDir: String,
                      path: String): DataFrame =
    withStatePartitions(spark) {
      def flags(df: DataFrame) = graft.ops.EventOps.abUserFlags(
        df, "user_id", "event_type", "view", "purchase")
      val ev = Tables.events(spark, sfDir)
      graft.ops.IncrementalAgg.writeBatch(
        flags(ev.filter(col("event_id") % 2 === 0)), path, 0L)
      val raw = Tables.parquet(spark, s"$sfDir/events.parquet")
      val stream = spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          graft.ops.IncrementalAgg.writeBatch(
            flags(df.filter(col("event_id") % 2 === 1)), path, id + 1)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      val merged = graft.core.IndexCommits.dataStore(spark, path).served()
        .groupBy(col("__u"))
        .agg(max(col("__exp")).as("__exp"), max(col("__conv")).as("__conv"))
      graft.ops.EventOps.abTestReadout(merged)
    }

  /** Structured Streaming maintains an UPSERT SNAPSHOT (the
    * mini-lakehouse MERGE loop): version 0 is the base snapshot; each
    * micro-batch derives its change set, applies
    * [[graft.ops.Cdc.upsertLatest]] against the latest COMMITTED
    * version, and writes the result as the next version under the
    * commit-marker state machine. A crashed write leaves the previous
    * version serving; a replay recomputes from the same committed
    * parent, so the version chain never forks. `deriveChanges` is the
    * caller's CDC feed seam (here a deterministic function of the
    * batch, so replays are exact).
    */
  def runUpsertStream(spark: SparkSession, sfDir: String, path: String,
                      deriveChanges: DataFrame => DataFrame): String =
    withStatePartitions(spark) {
      val base = Tables.parquet(spark, s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      graft.ops.Cdc.writeSnapshot(base, path, 0L)
      val raw = Tables.parquet(spark, s"$sfDir/customer.parquet")
      val stream = spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "customer.parquet")
        .parquet(sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          val cur = graft.ops.Cdc.serveSnapshot(spark, path, Some(id))
          val changes = deriveChanges(
            df.select(col("c_custkey"), col("c_name"), col("c_acctbal")))
          graft.ops.Cdc.writeSnapshot(
            graft.ops.Cdc.upsertLatest(cur, changes, Seq("c_custkey"),
              "seq", "op"),
            path, id + 1)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      path
    }

  /** Streaming count-min maintenance: batch 0 seeds the sketch with the
    * even-id half's cell partials, the stream's micro-batch appends the
    * odd-id half's partials under the commit-marker state machine, and
    * serving SUMS committed cells — CMS cells are algebraic, so
    * merge(partials) ≡ the full-corpus sketch bit-for-bit (the
    * `stream_cms` oracle rebuilds exactly that full sketch). Per-batch
    * cost is one explode×depth aggregate over the BATCH; the historical
    * corpus is never rescanned — the [[runDriftStream]] monitor shape
    * applied to frequency sketching.
    */
  def runCmsStream(spark: SparkSession, sfDir: String,
                   path: String): String =
    withStatePartitions(spark) {
      val docs = Tables.parquet(spark, s"$sfDir/documents.parquet")
      def cmsOf(df: DataFrame): DataFrame =
        graft.ops.Frequent.countMinSketch(
          graft.ops.Frequent.wsTokens(df, "text"), "token")
      graft.ops.IncrementalAgg.writeBatch(
        cmsOf(docs.filter(col("doc_id") % 2 === 0)), path, 0L)
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          graft.ops.IncrementalAgg.writeBatch(
            cmsOf(df.filter(col("doc_id") % 2 === 1)), path, id + 1)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      path
    }

  /** Serve the merged sketch from committed partials: ≤ depth×width
    * rows per batch, summed cell-wise — the monitored corpus is never
    * rescanned.
    */
  def serveCmsStream(spark: SparkSession, path: String): DataFrame = {
    graft.core.IndexCommits.dataStore(spark, path).served()
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  def runDriftStream(spark: SparkSession, sfDir: String,
                     path: String): String =
    withStatePartitions(spark) {
      val docs = Tables.parquet(spark, s"$sfDir/documents.parquet")
      val score = graft.ops.TextAnalysis.qualityScore(col("text"))
      graft.ops.IncrementalAgg.writeBatch(
        graft.ops.Profile.driftPartials(
          docs.filter(col("doc_id") % 2 === 0), score, 16, asRef = true),
        path, 0L)
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          graft.ops.IncrementalAgg.writeBatch(
            graft.ops.Profile.driftPartials(
              df.filter(col("doc_id") % 2 === 1), score, 16, asRef = false),
            path, id + 1)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      path
    }

  /** LATE-DATA correctness for the watermarked windowed aggregate — the
    * semantics append mode actually enforces, exercised deliberately
    * instead of incidentally:
    *
    *  - file 1: the "on-time body" — events below a pinned hour-aligned
    *    cutoff C (min + 4/5 of the time range, floored to the hour),
    *    MINUS a deterministic "arrives late" subset (event_id % 13 = 4);
    *  - after file 1 commits, the query's event-time watermark is
    *    wm = maxTs(file 1) − 1 hour (millisecond-truncated, exactly as
    *    Spark's EventTimeStats tracks it);
    *  - file 2: the on-time tail (ts ≥ C) PLUS the late subset. Late
    *    rows whose 1-hour window closed at or before wm are DROPPED by
    *    the aggregation's late-row filter; late rows within the
    *    watermark still count — both behaviors in one batch;
    *  - file 3: one far-future flush row pushes the watermark past
    *    every real window so append mode emits them all (the flush
    *    row's own window stays open and is filtered out by type).
    *
    * The oracle recomputes wm from the same file-1 membership predicate
    * and aggregates events minus the dropped set — kept-vs-dropped is
    * hash-checked, not assumed. The fixture guarantees no window end
    * lands exactly ON the watermark (wm carries real sub-hour
    * milliseconds), so the boundary convention cannot mask a drift.
    */
  def runLateStream(spark: SparkSession, sfDir: String,
                    queryNamePrefix: String = "graft_late_stream"): DataFrame =
    withStatePartitions(spark) {
      import java.nio.file.Files
      val queryName = uniqueQueryName(queryNamePrefix)
      val events = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
      val us = unix_micros(col("ts"))
      val b = events.agg(min(us), max(us)).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val hourUs = 3600L * 1000000L
      val cutoff = (lo + (hi - lo) * 4L / 5L) / hourUs * hourUs
      val late = col("event_id") % 13 === 4
      val dir = Files.createTempDirectory("graft_late_src")
      def writeChunk(df: org.apache.spark.sql.DataFrame): Unit =
        df.coalesce(1).write.mode("append").parquet(dir.toString)
      writeChunk(events.filter(us < cutoff && !late))
      val stream = spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      val agg = windowedAgg(stream.withWatermark("ts", "1 hour"))
      val q = agg.writeStream
        .outputMode("append").format("memory").queryName(queryName).start()
      try {
        q.processAllAvailable()
        writeChunk(events.filter(us >= cutoff || late))
        q.processAllAvailable()
        val flushTs = (hi / 1000L) * 1000L + 366L * 24 * 3600 * 1000000L
        writeChunk(events.limit(1).select(lit(-1L).as("event_id"),
          lit(-1L).as("user_id"),
          timestamp_micros(lit(flushTs)).as("ts"),
          lit("__flush").as("event_type"),
          lit(0.0).as("value")))
        q.processAllAvailable()
      } finally {
        q.stop()
        try {
          import scala.jdk.CollectionConverters._
          Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(p => Files.deleteIfExists(p))
        } catch { case _: Throwable => () }
      }
      val res = spark.table(queryName)
        .filter(col("event_type") =!= "__flush")
      val out = spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(res.collect(): _*)),
        res.schema)
      spark.catalog.dropTempView(queryName)
      out
    }

  /** Streaming N-stage funnel: feeds the event table to
    * [[StatefulFunnel]] in `chunks` event-time-ordered micro-batches
    * (chunk membership is a threshold on exact event-time MICROS, so
    * equal timestamps can never straddle a batch boundary — the
    * precondition under which the incremental per-user fold equals the
    * batch fold), then reports the same per-stage counts as the batch
    * [[graft.ops.Funnel.funnel]]. Depth per user is monotone across
    * batches, so the memory sink's final answer is max(depth).
    */
  def runFunnelStream(spark: SparkSession, sfDir: String,
                      stages: Seq[String], chunks: Int = 3,
                      queryNamePrefix: String = "graft_funnel_stream"): DataFrame =
    withStatePartitions(spark) {
      import java.nio.file.Files
      import org.apache.spark.sql.types._
      val queryName = uniqueQueryName(queryNamePrefix)
      // Ev.user_id is a primitive Long: a null user would crash the
      // Dataset encoder mid-stream. Anonymous events carry no
      // attributable funnel state — drop them up front instead of
      // crashing on dirty input (documented stream-side contract; the
      // fixtures carry no null users, so batch ≡ stream holds there).
      val events = Tables.events(spark, sfDir)
        .filter(col("user_id").isNotNull)
        .select(col("user_id").cast("long").as("user_id"), col("ts"),
          col("event_type"))
      val us = unix_micros(col("ts"))
      val bounds = events.agg(min(us), max(us)).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val dir = Files.createTempDirectory("graft_funnel_src")
      val schema = StructType(Seq(StructField("user_id", LongType),
        StructField("ts", TimestampType), StructField("event_type", StringType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      import spark.implicits._
      val depths = StatefulFunnel.depths(stream.as[StatefulFunnel.Ev], stages)
      val q = depths.toDF().writeStream
        .outputMode("append").format("memory").queryName(queryName).start()
      try {
        (1 to chunks).foreach { i =>
          // [loB, hiB) micro-thresholds; the last chunk's bound is hi+1
          // so max-ts events are included
          val loB = lo + (hi - lo + 1) * (i - 1).toLong / chunks
          val hiB = lo + (hi - lo + 1) * i.toLong / chunks
          events.filter(us >= loB && us < hiB)
            .coalesce(1).write.mode("append").parquet(dir.toString)
          q.processAllAvailable()
        }
      } finally {
        q.stop()
        try {
          import scala.jdk.CollectionConverters._
          Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(p => Files.deleteIfExists(p))
        } catch { case _: Throwable => () }
      }
      // materialize (stage-count-bounded rows) BEFORE dropping the
      // memory-sink temp view, so the returned DataFrame doesn't lazily
      // read a view a later run could have replaced
      val res = graft.ops.Funnel.depthCounts(
        spark.table(queryName).groupBy("user_id")
          .agg(max(col("depth")).as("depth")), stages)
      val out = spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(res.collect(): _*)),
        res.schema)
      spark.catalog.dropTempView(queryName)
      out
    }
}
