package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. [[create]] is the library
  * factory: it registers the graft extensions (SQL `dot_product`, the
  * as-of join planner strategy) and pins the configs the fixture tables
  * and oracle parity depend on — UTC session time zone (epoch
  * arithmetic matches DuckDB) and nanos-as-long parquet reads (the
  * events table carries TIMESTAMP(NANOS), which Spark has no native
  * type for; see [[Tables.normalizeTs]]) — plus a codegen cache sized
  * for a long-lived session. [[forHarness]] layers the mains' and
  * test harnesses' settings on top.
  *
  * `shufflePartitions` should track the executor core count at the
  * deployment scale (the 200 default over-partitions local runs and
  * under-partitions large clusters).
  */
object GraftSession {

  /** Size the codegen cache to the SUITE's working set, not one
    * query's. The default 100-entry Janino cache thrashes completely
    * under 314 queries x ~10 fragments each, so every measured pass
    * re-pays compilation its own warmup already did — the measured
    * "in-suite inflation": ev_sketch solo 3.00 s warm-cache vs 5.95 s
    * with the cache forced to 1 entry (1.98x), bracketing the 1.74x the
    * full suite showed vs solo (r15 bisect, PLANS.md). Any long-lived
    * session serving many distinct queries wants this; 8192 entries is
    * ~the suite's fragment count with headroom (metaspace cost, not
    * heap). Static conf, so set at build time.
    */
  private val CodegenCacheEntries = 8192

  def create(master: String = "local[*]",
             shufflePartitions: Int = Runtime.getRuntime.availableProcessors,
             appName: String = "graft"): SparkSession =
    builder(master, shufflePartitions, appName).getOrCreate()

  private def builder(master: String, shufflePartitions: Int,
                      appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Local session for the mains (Bench, Verify, Explain) and the
    * test-scope harnesses: `local[harnessCpus]` with as many shuffle
    * partitions, [[create]]'s configs plus [[harnessConf]] of the process
    * environment, log level WARN.
    */
  def forHarness(appName: String): SparkSession = {
    val cpus = harnessCpus
    val b = builder(s"local[$cpus]", cpus, appName)
    harnessConf(sys.env).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, else the host's core count. */
  def harnessCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The harness settings as a pure function of the environment:
    *   - UI off;
    *   - map columns hashable, for the whole-row checksum action;
    *   - the two A/B toggles that `tools/flip_check.py` evidence depends
    *     on: `SPARK_GRAFT_SCAN_FANOUT` and `SPARK_GRAFT_CACHED_PLAN_AQE`
    *     set the [[QueryScope]] modes: "auto" (default) lets the
    *     measured per-query hints decide; "true"/"false" force the
    *     rewrite everywhere (every read / every tracked cache) /
    *     nowhere.
    */
  private[graft] def harnessConf(env: Map[String, String]): Seq[(String, String)] =
    Seq(
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.allowHashOnMapType" -> "true",
      QueryScope.FanoutKey -> env.getOrElse("SPARK_GRAFT_SCAN_FANOUT", "auto"),
      QueryScope.CachedPlanAqeKey -> env.getOrElse("SPARK_GRAFT_CACHED_PLAN_AQE", "auto"))
}
