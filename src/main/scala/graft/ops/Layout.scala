package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.core.Tables

/** Data-layout operators — the write-side half of 100 TB performance.
  * Scans can only prune what the layout exposes: directory partitions
  * ([[Sinks.parquetPartitioned]]), bucket files ([[Sinks.bucketedTable]]),
  * and row-group min/max ranges (here). This module owns the two layout
  * chores every lake pipeline runs on a schedule: small-file compaction
  * and range-sorted rewrites.
  */
object Layout {

  /** Total on-disk bytes of a path (driver-side file listing — metadata
    * only, no data read).
    */
  def sizeOnDisk(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes / targetFileBytes) files. Every streaming / per-batch
    * append pipeline accretes kilobyte files whose per-file open cost
    * eventually dwarfs the read itself; compaction is the scheduled fix.
    * Sizing comes from the actual on-disk listing (not table stats, which
    * may be stale or absent), and the rewrite is one round-robin shuffle.
    */
  def compactParquet(spark: SparkSession, inPath: String, outPath: String,
                     targetFileBytes: Long = 128L << 20): Unit = {
    require(inPath != outPath, "compaction cannot overwrite its own input")
    val bytes = sizeOnDisk(spark, inPath)
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    Tables.parquet(spark, inPath)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** Range-sorted rewrite: range-partition on `sortCols` then sort within
    * each partition, so every output file covers a DISJOINT key range and
    * each row group's parquet min/max statistics actually prune (a
    * hash-partitioned write leaves every file spanning the whole key
    * domain — min/max stats then prune nothing). The scheduled rewrite
    * behind "order by time/id at rest" — what keeps point and range
    * queries from scanning the whole table.
    */
  def sortedParquet(df: DataFrame, path: String, numFiles: Int,
                    sortCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val cols = sortCols.map(col)
    df.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Byte-budget repartition for binary-payload stages: redistribute rows
    * so every output partition carries ≈ `targetBytes` of `payloadCol`
    * bytes (exactly bounded by targetBytes + one payload), regardless of
    * row count. Row-count partitioning over variable-size media blobs
    * gives wildly uneven codec working sets — one task decodes 50 MB while
    * its neighbor decodes 50 KB; this is the scheduled fix for any
    * mapPartitions codec stage ([[Multimodal.resize]],
    * [[Multimodal.sampleImageFrames]]).
    *
    * Mechanics (one full-data exchange total):
    *  1. CUMSUM  — ONE pass tags each row with its physical partition id
    *               (`TaskContext.getPartitionId`, NOT the SQL
    *               `spark_partition_id()` — the expression constant-folds
    *               to 0 over driver-local relations and, generally, can
    *               evaluate in a different stage than the one that runs
    *               the binning) and a partition-local running byte sum.
    *               Partition-local running state is the one shape Catalyst
    *               can't express without an exchange (a window keyed by
    *               partition id would shuffle the full payload), so this
    *               step is a mapPartitions — justified exactly here, and
    *               sitting directly above the codec's own mapPartitions
    *               anyway. The result is persisted (MEMORY_AND_DISK): the
    *               sizing aggregate and the binned exchange then read the
    *               SAME materialized rows, so a non-deterministic upstream
    *               (sample, round-robin repartition, task retry under AQE)
    *               cannot make the passes disagree — and the cache costs
    *               nothing net, because the alternative is re-executing
    *               the full upstream plan a second time.
    *  2. SIZE    — per-shard byte totals aggregated from the cached pass
    *               (one row per partition reaches the driver).
    *  3. OFFSET  — exclusive per-partition byte offsets broadcast back
    *               (never an exchange).
    *  4. BIN     — bin = (offset + cum) / budget; rows move once, with an
    *               identity partitioner so bin k IS partition k (hash
    *               would collide bins; range sampling under-represents
    *               few-row/big-byte bins and can merge several giant
    *               payloads into one task).
    *
    * The budget never shrinks parallelism below `minPartitions` (default:
    * the cluster's default parallelism): a byte budget is an upper bound
    * per task, not a license to idle executors — when
    * total/targetBytes < minPartitions the effective budget tightens to
    * total/minPartitions. AQE's `REBALANCE` hint is the built-in
    * approximation of this operator (advisory-size post-shuffle
    * coalescing/splitting); this version gives a deterministic, exact
    * per-partition byte bound, which the spec asserts.
    *
    * Even with the cache, the bin step fails loudly (never drops rows) if
    * the passes somehow disagree (cache eviction recomputing a
    * non-deterministic plan): a shard absent from the sizing pass raises
    * an error, and bin indices are clamped into range so byte-count drift
    * overflows into the last partition instead of crashing the
    * partitioner.
    *
    * `lengthCol`, when given, MUST equal `length(payloadCol)` — it is used
    * for binning as well as sizing, so a disagreeing metadata column
    * silently voids the per-partition byte bound. Negative values are
    * clamped to 0.
    */
  def repartitionByBytes(df: DataFrame, payloadCol: String,
                         targetBytes: Long,
                         minPartitions: Int = 0,
                         lengthCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    require(targetBytes > 0, "targetBytes must be positive")
    val spark = df.sparkSession
    val minParts = if (minPartitions > 0) minPartitions
      else spark.sparkContext.defaultParallelism
    val lenExpr = greatest(lit(0L), coalesce(
      lengthCol.map(c => col(c).cast("long"))
        .getOrElse(length(col(payloadCol)).cast("long")), lit(0L)))

    // 1. CUMSUM — physical partition id + partition-local running bytes,
    // computed in ONE pass and cached so sizing and binning read the same
    // materialized rows. TaskContext (not spark_partition_id()): the SQL
    // expression evaluates wherever Catalyst places the Project — over a
    // driver-local relation it folds to 0 for every row while the
    // mapPartitions below still runs sharded, which would silently void
    // the byte bound.
    val tagged = df.withColumn("__g_len", lenExpr)
    val n = tagged.schema.size // __g_len is last
    val cumSchema = tagged.schema
      .add(StructField("__g_shard", IntegerType, nullable = false))
      .add(StructField("__g_cum", LongType, nullable = false))
    // tracked like every other internal persist (MEMORY_AND_DISK), so the
    // harness's per-query releaseAll frees it instead of it lingering
    val cum = graft.core.Caches.track(tagged.mapPartitions { it =>
      val shard = org.apache.spark.TaskContext.getPartitionId()
      var running = 0L
      it.map { r =>
        val out = Row.fromSeq(r.toSeq :+ shard :+ running)
        running += r.getLong(n - 1)
        out
      }
    }(org.apache.spark.sql.Encoders.row(cumSchema)))

    // 2. SIZE — one row per shard reaches the driver
    val totals = cum
      .groupBy("__g_shard").agg(sum("__g_len").as("__g_bytes"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val totalBytes = totals.map(_._2).sum
    if (totalBytes == 0L) { cum.unpersist(); return df }
    val effTarget = math.max(1L,
      math.min(targetBytes, totalBytes / math.max(1, minParts) + 1))
    val nBins = math.max(1L, (totalBytes + effTarget - 1) / effTarget).toInt

    // 3. OFFSET — exclusive prefix sums, broadcast back
    var acc = 0L
    val offRows = totals.map { case (s, b) => val r = Row(s, acc); acc += b; r }
    val offDf = spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*),
      StructType(Seq(StructField("__g_shard", IntegerType, nullable = false),
        StructField("__g_offset", LongType, nullable = false))))

    // 4. BIN — one exchange; identity partitioner makes the bound exact.
    // Left join + fail-fast: a shard id unseen by the sizing pass means
    // the cached pass was recomputed differently (eviction over a
    // non-deterministic plan) — raise rather than silently dropping those
    // rows, and clamp the bin so byte-count drift lands in the last
    // partition instead of out-of-range in the partitioner.
    val binned = cum.join(broadcast(offDf), Seq("__g_shard"), "left")
      .withColumn("__g_offset",
        when(col("__g_offset").isNull, raise_error(concat(
          lit("repartitionByBytes: input partition "), col("__g_shard"),
          lit(" absent from sizing pass — upstream plan is " +
            "non-deterministic; cache/checkpoint the input first"))))
          .otherwise(col("__g_offset")))
      .withColumn("__g_bin", least(lit(nBins - 1), greatest(lit(0),
        ((col("__g_offset") + col("__g_cum")) / effTarget).cast("int"))))
    val outSchema = binned.schema
    val binIdx = outSchema.fieldIndex("__g_bin")
    val part = new org.apache.spark.Partitioner {
      override def numPartitions: Int = nBins
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }
    val rdd = binned.rdd
      .map(r => (r.getInt(binIdx), r)).partitionBy(part).values
    spark.createDataFrame(rdd, outSchema)
      .drop("__g_shard", "__g_len", "__g_cum", "__g_offset", "__g_bin")
  }

  /** Morton (Z-order) value of two numeric columns: each input is
    * min/max-normalized to a `bits`-bit integer rank, and the two bit
    * strings are interleaved (x in the odd positions). Built entirely
    * from shift/mask built-ins — codegen'd, no UDF.
    *
    * min/max come from one eager aggregate over `df` (metadata-cheap
    * relative to the rewrite that follows; at 100 TB the same numbers
    * come from table stats).
    */
  def zValue(df: DataFrame, xCol: String, yCol: String, bits: Int = 16)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(bits >= 1 && bits <= 31, "bits must be in 1..31")
    val r = df.agg(min(col(xCol)).cast("double"), max(col(xCol)).cast("double"),
      min(col(yCol)).cast("double"), max(col(yCol)).cast("double")).head()
    val maxRank = (1L << bits) - 1
    def rank(c: String, lo: Double, hi: Double) = {
      val span = if (hi > lo) hi - lo else 1.0
      least(greatest(floor((col(c).cast("double") - lit(lo)) / lit(span)
        * lit(maxRank + 1)), lit(0L)), lit(maxRank)).cast("long")
    }
    val (xr, yr) = (rank(xCol, r.getDouble(0), r.getDouble(1)),
      rank(yCol, r.getDouble(2), r.getDouble(3)))
    (0 until bits).map { b =>
      shiftleft(shiftright(xr, b) % 2, 2 * b + 1) +
        shiftleft(shiftright(yr, b) % 2, 2 * b)
    }.reduce(_ + _)
  }

  /** Z-ORDERED rewrite: cluster rows along the Morton curve of TWO
    * columns, so every output file covers a small rectangle of the
    * (x, y) domain and parquet min/max statistics prune on EITHER
    * filter column. A plain sort on x leaves every file spanning the
    * whole y domain (y-filters prune nothing); the space-filling curve
    * is the standard lake fix for two-dimensional access patterns
    * (time × tenant, date × region). Same shuffle shape as
    * [[sortedParquet]] — one range exchange on the z-value.
    */
  def zOrderedParquet(df: DataFrame, path: String, numFiles: Int,
                      xCol: String, yCol: String, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions.col
    val z = zValue(df, xCol, yCol, bits)
    df.withColumn("__graft_z", z)
      .repartitionByRange(numFiles, col("__graft_z"))
      .sortWithinPartitions(col("__graft_z"))
      .drop("__graft_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
