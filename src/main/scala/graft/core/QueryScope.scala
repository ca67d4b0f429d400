package graft.core

import org.apache.spark.sql.SparkSession
import scala.util.DynamicVariable

/** One query's measured rewrite hints (graft.queries.QueryHints):
  * widen low-split scans ([[Tables]]) and build tracked caches with
  * AQE-sized partitioning ([[Caches.track]]).
  */
final case class Hints(fanout: Boolean = false, cachedPlanAqe: Boolean = false)

/** The construction scope of one query: the [[Hints]] of the query
  * whose DataFrame is being built on this thread. `SparkEntry.queries`
  * binds it around `Q.run`; the readers ([[Tables]], [[Caches]]) ask it
  * while the plan is constructed, which is when both rewrites are
  * fixed (the repartition is baked into the plan, the cache's physical
  * plan is fixed when it is registered).
  *
  * A thread-local binding, never a session conf: queries built
  * concurrently against one shared session (the test suites, the bench
  * watchdog threads) cannot see each other's hints, and no query
  * mutates what the others share.
  *
  * Each hint has a session-conf mode, "auto" (default: the query's hint
  * decides), "true" (every read / every tracked cache: an A/B aid) or
  * "false" (kill switch). Any other value fails naming the key.
  */
object QueryScope {
  val FanoutKey = "graft.scan.fanout"
  val CachedPlanAqeKey = "graft.cachedPlanAqe"

  private val current = new DynamicVariable(Hints())

  def withHints[T](h: Hints)(body: => T): T = current.withValue(h)(body)

  /** Whether each rewrite fires for the query under construction. */
  def fanout(spark: SparkSession): Boolean =
    enabled(spark, FanoutKey, current.value.fanout)

  def cachedPlanAqe(spark: SparkSession): Boolean =
    enabled(spark, CachedPlanAqeKey, current.value.cachedPlanAqe)

  private def enabled(spark: SparkSession, key: String, hinted: Boolean): Boolean =
    spark.conf.get(key, "auto") match {
      case "auto"  => hinted
      case "true"  => true
      case "false" => false
      case other => throw new IllegalArgumentException(
        s"conf $key must be auto, true or false, got '$other'")
    }
}
