package graft.core

import graft.SparkSpec
import java.util.concurrent.{CyclicBarrier, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class QueryMetricsSpec extends SparkSpec {

  private def withMetrics[T](body: QueryMetrics => T): T = {
    val m = QueryMetrics.register(spark.sparkContext)
    try body(m) finally spark.sparkContext.removeSparkListener(m)
  }

  private def aggQuery(): DataFrame =
    spark.range(0, 200000, 1, 8).groupBy(col("id") % 13).count()

  private def joinQuery(): DataFrame =
    spark.range(0, 100000, 1, 6)
      .join(spark.range(0, 50000, 1, 3).withColumnRenamed("id", "k"), col("id") === col("k"))
      .agg(sum(col("k")))

  private def counts(r: QueryMetrics.Record) = (r.jobs, r.stages, r.tasks)

  test("two queries run at once on one session, each under its own " +
      "Watchdog.run, get the same job and task counts as each run alone") {
    withMetrics { metrics =>
      val sc = spark.sparkContext
      def run(name: String, q: () => DataFrame, barrier: Option[CyclicBarrier]) =
        Watchdog.run(sc, name, timeoutS = 120) {
          val df = metrics.building(q())
          barrier.foreach(_.await(60, TimeUnit.SECONDS))
          df.collect(); ()
        }
      assert(run("mx-agg", () => aggQuery(), None).isEmpty)
      assert(run("mx-join", () => joinQuery(), None).isEmpty)
      val aloneAgg = metrics.take("mx-agg")
      val aloneJoin = metrics.take("mx-join")

      val barrier = new CyclicBarrier(2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val a = pool.submit(() => run("mx-agg", () => aggQuery(), Some(barrier)))
        val b = pool.submit(() => run("mx-join", () => joinQuery(), Some(barrier)))
        assert(a.get().isEmpty && b.get().isEmpty)
      } finally pool.shutdown()
      val bothAgg = metrics.take("mx-agg")
      val bothJoin = metrics.take("mx-join")

      assert(aloneAgg.jobs > 0 && aloneJoin.jobs > 0)
      assert(counts(bothAgg) == counts(aloneAgg), s"$bothAgg vs $aloneAgg")
      assert(counts(bothJoin) == counts(aloneJoin), s"$bothJoin vs $aloneJoin")
      Seq(aloneAgg, aloneJoin, bothAgg, bothJoin).foreach { r =>
        assert(r.failedTasks == 0 && r.buildJobs == 0 && !r.partial)
        assert(r.resultBytes > 0 && r.slowest.nonEmpty)
      }
      // take forgets what it returned
      assert(metrics.take("mx-agg") == QueryMetrics.Record())
    }
  }

  test("a query that runs a job while it is built reports it in build_jobs") {
    withMetrics { metrics =>
      val err = Watchdog.run(spark.sparkContext, "mx-bounded", timeoutS = 120) {
        // Broadcasts.bounded counts its input eagerly to decide the hint
        val dim = metrics.building(Broadcasts.bounded(spark.range(0, 1000, 1, 4).toDF()))
        spark.range(0, 10000, 1, 4).join(dim, "id").count(); ()
      }
      assert(err.isEmpty, err)
      val m = metrics.take("mx-bounded")
      assert(m.buildJobs >= 1, m)
      assert(m.jobs > m.buildJobs, m)
      assert(m.buildS > 0)
      // the build-time stage names the graft operator that started it
      assert(m.slowest.exists(_.name.contains("graft.core.Broadcasts")),
        m.slowest.map(_.name).mkString("\n"))
      // every stage names a graft frame, the ones AQE submits from its own
      // thread pool too (named by their SQL execution's call site)
      assert(m.slowest.nonEmpty && m.slowest.forall(_.name.contains(" | graft.")),
        m.slowest.map(_.name).mkString("\n"))
      assert(m.json.contains(s""""build_jobs":${m.buildJobs},"""))
    }
  }
}
