package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.graft.Shims
import java.util.concurrent.ConcurrentLinkedQueue

/** Registry for persisted relations created inside lazily-composed
  * operators (minhash signatures, capped shingle tables, sectioned
  * pipeline inputs).
  *
  * Those operators return unmaterialized DataFrames, so they cannot
  * unpersist eagerly themselves — the cache must outlive the function and
  * die after the caller's terminal action. Every internal `persist()`
  * goes through [[track]]; the harness (Verify / Bench / specs) calls
  * [[releaseAll]] once per query so cached partitions never accumulate
  * across a multi-query run. On a real cluster this is the difference
  * between a bounded storage-memory footprint and executors slowly
  * evicting each other's working set.
  */
object Caches {
  private val live = new ConcurrentLinkedQueue[Dataset[_]]()

  private val CachedPlanAqeKey =
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  /** Persist `ds` and register it for later release.
    *
    * When the query under construction carries the cached-plan hint
    * ([[QueryScope.cachedPlanAqe]]), the cache is registered through a
    * clone of the session with `canChangeCachedPlanOutputPartitioning`
    * set on the clone only. CacheManager, the one reader of that key,
    * then keeps AQE on in the cached plan, so a small cache is
    * coalesced to its measured size. The shared session conf is never
    * written, so queries constructed at the same time keep their own
    * behaviour; later plans on any session of the context pick the
    * cache up as usual. The storage level is the one `persist()` uses.
    */
  def track[T](ds: Dataset[T]): Dataset[T] = {
    if (!QueryScope.cachedPlanAqe(ds.sparkSession)) ds.persist()
    else {
      val clone = Shims.cloneSession(ds.sparkSession)
      clone.conf.set(CachedPlanAqeKey, "true")
      clone.sharedState.cacheManager.cacheQuery(clone,
        ds.queryExecution.analyzed, None,
        clone.sessionState.conf.defaultCacheStorageLevel)
    }
    live.add(ds)
    ds
  }

  /** Unpersist every tracked relation; returns how many were released. */
  def releaseAll(): Int = {
    var n = 0
    var d = live.poll()
    while (d != null) {
      try d.unpersist(blocking = false) catch { case _: Throwable => () }
      n += 1
      d = live.poll()
    }
    n
  }
}
