package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Construction-scoped opt-in for AQE-sized CACHED-plan partitioning
  * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`,
  * default false upstream).
  *
  * Why opt-in and not default-on: the full-suite A/B
  * (/tmp pair recorded in OPTIMIZATION_r17.md; tools/flip_check.py
  * verdict FLIP DISALLOWED, geomean 0.906) measured the session-wide
  * flag as a net pessimization — the byte-based coalescing collapses
  * CPU-heavy-but-small cached relations to one partition (mm_neardup
  * 2.5x, sim_graphann_layout 3.2x slower) even as it strips hundreds
  * of overhead tasks from the loop-heavy queries (dedup_cluster_
  * incremental 0.52x, er_golden 0.67x, graph_* 0.57-0.79x). Neither
  * direction is knowable from bytes alone, so the decision is
  * per-query and measured, exactly like [[FanoutHint]].
  *
  * Why a CONSTRUCTION-scoped session-conf toggle works: `persist()`
  * registers the cache through CacheManager.cacheQuery at the moment
  * the operator calls it — i.e. while the query function is being
  * constructed — and the InMemoryRelation's physical plan (AQE-enabled
  * or not) is fixed then. Every internal cache goes through
  * [[Caches.track]], which calls persist() eagerly, so toggling the
  * conf around construction pins the behavior per query with no leak
  * into neighbors (Bench/Verify run queries strictly sequentially; the
  * toggle is try/finally-restored to the session's prior value, or
  * unset if it had none).
  *
  * Modes, via the `graft.cachedPlanAqe` session conf (mirrors
  * `graft.scan.fanout`): "auto" (default) = the per-query winner list
  * decides; "true" = the session builder already set the Spark key
  * globally (A/B aid), the wrapper stays out of the way; "false" =
  * kill switch, wrapper never fires.
  */
object CachedPlanAqe {
  val SparkKey = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
  val ModeKey = "graft.cachedPlanAqe"

  def withCachedPlanAqe(spark: SparkSession)(body: => DataFrame): DataFrame = {
    val mode = spark.conf.get(ModeKey, "auto")
    if (mode != "auto") body
    else {
      val conf = spark.sessionState.conf
      val prior = Option.when(conf.contains(SparkKey))(conf.getConfString(SparkKey))
      spark.conf.set(SparkKey, "true")
      try body
      finally prior match {
        case Some(v) => spark.conf.set(SparkKey, v)
        case None    => spark.conf.unset(SparkKey)
      }
    }
  }
}
