package graft.core

import graft.{SparkEntry, SparkSpec}
import graft.queries.QueryHints
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Pins the per-query scope of the rewrite hints: a hinted construction
  * gets an AQE-sized cache, a neighbour constructed at the same time on
  * the same session keeps its own behaviour, and the shared session's
  * `canChangeCachedPlanOutputPartitioning` is never written (a write
  * there would leak AQE-sized caches into every later query).
  */
class QueryScopeSpec extends SparkSpec {
  private val Key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
  private val aqe = Hints(cachedPlanAqe = true)

  /** A small shuffled relation, distinct per `seed`. On `local[4]` with
    * 4 shuffle partitions a plain cache keeps 4 partitions; an
    * AQE-sized one is coalesced to 1.
    */
  private def relation(s: SparkSession, seed: Int): DataFrame =
    s.range(0, 2000 + seed, 1, 4).groupBy((col("id") % 97).as("k")).count()

  private def cachedPartitions(df: DataFrame): Int =
    df.select("*").rdd.getNumPartitions

  private def await(l: CountDownLatch): Unit =
    assert(l.await(2, TimeUnit.MINUTES), "interleaving latch timed out")

  /** Runs `a` and `b` on two fresh threads (created outside any scope). */
  private def concurrently(a: => Unit, b: => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(2)
    def task(body: => Unit) = pool.submit(new Callable[Unit] { def call(): Unit = body })
    try {
      val fa = task(a)
      val fb = task(b)
      fa.get(3, TimeUnit.MINUTES)
      fb.get(3, TimeUnit.MINUTES)
    } finally pool.shutdownNow()
  }

  test("two overlapping hinted constructions each get an AQE-sized cache " +
      "and leave the session's cached-plan key in its prior state") {
    Seq(None, Some("false")).foreach { prior =>
      val s = spark.newSession()
      prior.foreach(s.conf.set(Key, _))
      val aIn, bIn, aOut = new CountDownLatch(1)
      var a, b: DataFrame = null
      // A enters, B enters, A builds and leaves, then B builds and leaves
      concurrently(
        QueryScope.withHints(aqe) {
          aIn.countDown(); await(bIn)
          a = Caches.track(relation(s, 1))
          aOut.countDown()
        },
        { await(aIn)
          QueryScope.withHints(aqe) {
            bIn.countDown(); await(aOut)
            b = Caches.track(relation(s, 2))
          }
        })
      assert(cachedPartitions(a) == 1, s"prior $prior: query A's cache")
      assert(cachedPartitions(b) == 1, s"prior $prior: query B's cache")
      assert(s.conf.getAll.get(Key) == prior, "the shared key must be as it was")
      a.unpersist(); b.unpersist()
    }
  }

  test("an unhinted construction overlapping a hinted one keeps a plain cache") {
    val s = spark.newSession()
    val aIn, bDone = new CountDownLatch(1)
    var a, b: DataFrame = null
    concurrently(
      QueryScope.withHints(aqe) {
        aIn.countDown(); await(bDone)
        a = Caches.track(relation(s, 3))
      },
      { await(aIn)
        b = Caches.track(relation(s, 4))
        bDone.countDown()
      })
    assert(cachedPartitions(a) == 1, "hinted cache is AQE-sized")
    assert(cachedPartitions(b) == 4, "unhinted cache keeps the shuffle partitions")
    assert(!s.conf.getAll.contains(Key))
    a.unpersist(); b.unpersist()
  }

  test("a hinted construction leaves the session's cached-plan key as it was, set or unset") {
    val s = spark.newSession()
    s.conf.set(Key, "false")
    val d1 = QueryScope.withHints(aqe) {
      val d = Caches.track(relation(s, 5))
      assert(s.conf.get(Key) == "false")
      d
    }
    assert(s.conf.get(Key) == "false")
    s.conf.unset(Key)
    val d2 = QueryScope.withHints(aqe)(Caches.track(relation(s, 6)))
    assert(!s.conf.getAll.contains(Key))
    assert(cachedPartitions(d1) == 1 && cachedPartitions(d2) == 1)
    d1.unpersist(); d2.unpersist()
  }

  test("graft.cachedPlanAqe=true sizes every tracked cache, =false none") {
    val on = spark.newSession()
    on.conf.set(QueryScope.CachedPlanAqeKey, "true")
    val d1 = Caches.track(relation(on, 7))
    val off = spark.newSession()
    off.conf.set(QueryScope.CachedPlanAqeKey, "false")
    val d2 = QueryScope.withHints(aqe)(Caches.track(relation(off, 8)))
    assert(cachedPartitions(d1) == 1, "mode true: unhinted cache is AQE-sized")
    assert(cachedPartitions(d2) == 4, "mode false beats the hint")
    d1.unpersist(); d2.unpersist()
  }

  test("a malformed graft.cachedPlanAqe fails naming the key") {
    val s = spark.newSession()
    s.conf.set(QueryScope.CachedPlanAqeKey, "yes")
    val e = intercept[IllegalArgumentException](Caches.track(relation(s, 9)))
    assert(e.getMessage.contains(QueryScope.CachedPlanAqeKey))
  }

  test("every name in the hints table is a registered query") {
    val unknown = QueryHints.table.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"hints for unregistered queries: ${unknown.mkString(", ")}")
    assert(QueryHints.table.values.count(_.fanout) == 56)
    assert(QueryHints.table.values.count(_.cachedPlanAqe) == 24)
  }
}
