package graft.core

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.types.StructType

/** Fixture-table readers (see TESTDATA.md, FIXTURES.md §A) and the one
  * parquet open of `src/main`.
  *
  * A table is a lazily planned scan, so Catalyst keeps full pushdown
  * freedom (column pruning and predicate pushdown reach the parquet scan)
  * and stages compose as DataFrame lineage. The reference system
  * materialized every inter-stage table in Postgres (reference:
  * diagnostic_group_pipeline_with_api.py:142,219).
  *
  * Every parquet read goes through [[parquet]], which memoizes the schema
  * Spark infers. Opening a path without a schema runs a one-task Spark
  * job (the footer read of parquet schema inference) before the query
  * exists; an open with the schema given plans the same relation and
  * starts no job. The memo contract:
  *
  *  - a path's fingerprint is its leaf-file listing (each file's path,
  *    length and modification time, one driver-side listing) plus the
  *    session's values of the confs that change parquet inference
  *    ([[InferenceConfs]]);
  *  - an open whose fingerprint equals the recorded one is given the
  *    recorded schema; any other open (first open, a file added, removed
  *    or rewritten, a conf changed) is a miss: Spark infers the schema as
  *    a plain `spark.read.parquet` does, and the result replaces the entry;
  *  - the memo holds one entry per qualified path, so a store rewritten at
  *    every lifecycle step keeps one entry, not one per version;
  *  - a missing path, or one that lists no file, is never recorded: it is
  *    opened plainly and fails as Spark fails it.
  *
  * Spark's inference is the only inference: no footer is read here and no
  * schema is written down (the `events.ts` type varies across data
  * generations, see [[events]]). The listing is taken before the miss's
  * read, so a file that changes between the two is caught by the next
  * open's listing.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs whose values change the schema Spark infers for the
    * same files. */
  private val InferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private final case class Fingerprint(files: Vector[(String, Long, Long)],
                                       confs: Seq[Option[String]])
  private final case class Memo(fingerprint: Fingerprint, schema: StructType)

  /** qualified path → the schema Spark inferred for it and the
    * fingerprint it was inferred at */
  private val schemas = new ConcurrentHashMap[String, Memo]()

  /** Open the parquet file or directory at `path` (see the memo contract
    * above). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((key, fp)) =>
        Option(schemas.get(key)).filter(_.fingerprint == fp) match {
          case Some(m) => spark.read.schema(m.schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.put(key, Memo(fp, df.schema))
            df
        }
    }

  /** The qualified paths at or under `root` that the memo holds an entry
    * for (a spec's view). */
  private[core] def memoKeys(spark: SparkSession, root: String): Seq[String] = {
    val q = qualify(spark, root).toString
    schemas.keySet.toArray(Array.empty[String]).toSeq
      .filter(k => k == q || k.startsWith(q + "/")).sorted
  }

  private def qualify(spark: SparkSession, path: String): Path = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  /** The qualified path and its fingerprint; None when nothing is listed
    * there. */
  private def fingerprint(spark: SparkSession,
                          path: String): Option[(String, Fingerprint)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(p)
    val files =
      try {
        val it = fs.listFiles(root, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toVector
      } catch { case _: FileNotFoundException => Vector.empty }
    if (files.isEmpty) None
    else Some(root.toString ->
      Fingerprint(files, InferenceConfs.map(spark.conf.getOption)))
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    fanout(spark, parquet(spark, s"$sfDir/$name.parquet"))

  /** Scan-parallelism floor for LOW-SPLIT inputs (optimization guide
    * §2.2/§6): parquet parallelism is bounded by file splits (and,
    * within a file, by row groups — a single-row-group file is ONE
    * task no matter what `maxPartitionBytes` says). When the planned
    * split count is below the cluster's core count, every
    * scan-adjacent stage — shingling, regex chains, hashing, Expand,
    * the partial aggregate feeding the first exchange — runs on a
    * fraction of the machine. One round-robin exchange of the
    * (pruned, filtered) scan output buys full-width map stages.
    *
    * The exchange is NOT free: every non-CPU-bound query just pays a
    * local sort (`sortBeforeRepartition`, guide §2.5) plus a full
    * write/read of the table for nothing. The r16 A/B over all 315
    * queries (bench_results/r16_baseline.json vs r16_fanout.json)
    * measured default-ON as a 1.20x geomean pessimization (179/314
    * regressed >10%) with ~48 large wins confined to CPU-heavy
    * scan-adjacent work (shingling/regex/vector math). So the rewrite
    * is OPT-IN per query:
    *
    *   - `graft.scan.fanout=auto` (default): fires only when the
    *     query being constructed carries the fan-out hint
    *     ([[QueryScope]], bound by SparkEntry for the measured winner
    *     queries).
    *   - `=true` forces it for every read (A/B benchmarking aid);
    *   - `=false` is the kill switch (beats any hint).
    *
    * Scale-adaptive by construction, not a local-mode constant: the
    * trigger reads the split count Spark itself plans for the read (the
    * file scan's partitions: `FilePartition.maxSplitBytes`, which
    * charges `openCostInBytes` per file, and its file packing), so a
    * real corpus (thousands of splits at 100 TB), an input of many
    * small files and a mid-size table Spark already splits
    * core-count-wide all take the zero-cost branch (the r16 ADVICE
    * finding: the old `bytes/maxPartitionBytes` estimate would have
    * exchanged a 512 MB table Spark had already split 32 ways). A read
    * that does not plan as a file scan is left alone. Filters and
    * column pruning still reach the parquet scan — Catalyst pushes both
    * through a Repartition — and the round-robin assignment is deterministic
    * (sort-before-repartition, fixed input split order), so table
    * CONTENTS are identical (row order changes; every declared query
    * is order-insensitive or totally ordered, which the oracle pins).
    * The floor `graft.scan.fanout.minBytes` (default 256 KiB) keeps
    * broadcast-dim lookups and sub-fixture-scale inputs exchange-free.
    */
  private def fanout(spark: SparkSession, df: DataFrame): DataFrame = {
    if (!QueryScope.fanout(spark)) return df
    val minBytes = Config.confLong(spark, "graft.scan.fanout.minBytes", 262144L)
    val target = spark.sparkContext.defaultParallelism
    df.queryExecution.sparkPlan.collectFirst { case s: FileSourceScanExec => s } match {
      case Some(scan) if scan.relation.location.sizeInBytes >= minBytes &&
          scan.inputRDD.getNumPartitions < target => df.repartition(target)
      case _ => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** The events fixture's `ts` physical type has varied across driver
    * data generations: parquet TIMESTAMP(NANOS) (readable only as a
    * nanosecond long under `spark.sql.legacy.parquet.nanosAsLong=true`,
    * set by Verify/Bench sessions) and timezone-naive TIMESTAMP(MICROS)
    * (which Spark reads as TIMESTAMP_NTZ — a type `unix_micros`,
    * watermarks and streaming event time all reject). Normalize both to
    * the session-zone TIMESTAMP. Every session pins
    * `spark.sql.session.timeZone=UTC`, so the NTZ→LTZ cast preserves the
    * stored microsecond values exactly — the same instants DuckDB sees
    * reading the naive column.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"))

  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case Some(f) if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** CSV source with the reference's quirks: header, latin-1 encoding and
    * empty-string-as-null (reference: dx_group.py:93, mvp_pipe.py:44 —
    * `pd.read_csv(..., encoding='latin-1', na_values="")`). Schema is
    * caller-supplied so the scan never pays an inference pass at scale.
    */
  def csv(spark: SparkSession, path: String,
          schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("encoding", "ISO-8859-1")
      .option("nullValue", "")
      .schema(schema)
      .csv(path)

  /** JSON-lines source (one JSON object per line — the interchange format
    * of scraped/crawled corpora). Schema is caller-supplied: schema
    * inference reads the whole dataset once before the real scan, which
    * is a full extra pass at 100 TB.
    */
  def jsonLines(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType,
                options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.schema(schema)
    options.foreach { case (k, v) => r.option(k, v) }
    r.json(path)
  }

  /** ORC source — the other columnar lake format (same pushdown/pruning
    * properties as parquet: predicates and projections reach the scan).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JDBC source with projection + date-range predicate pushed down
    * (reference: Diagnostic_group_pipeline.py:76-78 `get_messages(...)` built
    * a SELECT/WHERE string by hand; Catalyst pushes the same projection and
    * filter through the JDBC scan for free). Not exercised by the parquet
    * fixtures — kept as the documented scale path for DB-backed deployments.
    */
  def jdbc(spark: SparkSession, url: String, dbtable: String,
           props: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, dbtable, props)

  /** Connection URL for the reference's `input_db_type` enum
    * (Diagnostic_group_pipeline.py:138 `['sql-server','postgres']` with
    * separate server/name/port params): the two supported production
    * dialects map to their canonical JDBC URL prefixes, which is also
    * what routes Spark's dialect selection (`JdbcDialects.get`) — SQL
    * Server gets TOP-n pushdown and `"x"` identifier quoting, Postgres
    * gets LIMIT/OFFSET; JdbcDialectSpec pins both shapes. Loud failure
    * on an unknown type (the reference validated via Param enum).
    */
  def jdbcUrl(dbType: String, server: String, database: String,
              port: Option[Int] = None): String = {
    val p = port.map(":" + _).getOrElse("")
    dbType match {
      case "sql-server" => s"jdbc:sqlserver://$server$p;databaseName=$database"
      case "postgres"   => s"jdbc:postgresql://$server$p/$database"
      case other => throw new IllegalArgumentException(
        s"unknown input_db_type '$other' (expected 'sql-server' or 'postgres')")
    }
  }
}
