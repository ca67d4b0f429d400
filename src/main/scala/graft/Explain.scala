package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: print the formatted physical plan + two timed runs for the
  * given query names (all queries if none given). Building a query can
  * run Spark jobs before the plan prints (`Tables` schema inference,
  * `Broadcasts.bounded`'s count, `Curation.stageBarrier`). Usage:
  *   sbt "runMain graft.Explain [sfDir] [name ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.core.GraftSession.forHarness("graft-explain")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"\n================ $name ================")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val n = df.count()
        println(f"[$name] run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s, $n rows")
      }
      graft.core.Caches.releaseAll()
    }
    spark.stop()
  }
}
