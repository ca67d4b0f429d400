package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Scratch profiler (test scope, not shipped): runs named queries with the
  * bench session config and reports job/stage/task counts and where the
  * task time goes. Usage:
  *   sbt "Test/runMain graft.ProfileQuery <sfDir> [conf:k=v ...] <name> [name...]"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = graft.core.GraftSession.forHarness("graft-profile")
    val names = ChecksumDump.applyConfArgs(spark, args.tail.toSeq)

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    @volatile var gcMs = 0L
    @volatile var shufWriteMs = 0L
    @volatile var fetchWaitMs = 0L
    @volatile var deserMs = 0L
    @volatile var resultSerMs = 0L
    @volatile var cpuNs = 0L
    val stageInfo = mutable.ArrayBuffer.empty[(Int, String, Int, Long)]
    val lock = new Object
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        lock.synchronized { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        lock.synchronized {
          stages += 1
          val site = s.stageInfo.details.linesIterator
            .filter(l => l.contains("graft") && !l.contains("ProfileQuery"))
            .take(2).mkString(" <- ")
          stageInfo += ((s.stageInfo.stageId,
            (s.stageInfo.name.takeWhile(_ != '\n').take(40) + " | " + site).take(150),
            s.stageInfo.numTasks,
            s.stageInfo.completionTime.getOrElse(0L) -
              s.stageInfo.submissionTime.getOrElse(0L)))
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        lock.synchronized {
          tasks += 1
          val m = t.taskMetrics
          if (m != null) {
            taskTimeMs += m.executorRunTime
            gcMs += m.jvmGCTime
            cpuNs += m.executorCpuTime
            deserMs += m.executorDeserializeTime
            resultSerMs += m.resultSerializationTime
            shufWriteMs += m.shuffleWriteMetrics.writeTime / 1000000
            fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warmup (codegen/JIT) at sf0.001 like the bench
      val warm = fn(spark, "/root/testdata/sf0.001")
      warm.write.format("noop").mode("overwrite").save()
      graft.core.Caches.releaseAll()
      spark.catalog.clearCache()
      // reset counters
      lock.synchronized {
        jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0; gcMs = 0
        shufWriteMs = 0; fetchWaitMs = 0; deserMs = 0; resultSerMs = 0
        cpuNs = 0; stageInfo.clear()
      }
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPlan = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      graft.core.Caches.releaseAll()
      spark.catalog.clearCache()
      Thread.sleep(300) // let listener drain
      val wallS = (t1 - t0) / 1e9
      println(f"\nPROFILE $name wall=$wallS%.3f s (construct=${(tPlan - t0) / 1e9}%.3f) " +
        f"jobs=$jobs stages=$stages tasks=$tasks")
      println(f"  taskTime=${taskTimeMs / 1e3}%.2f s  cpu=${cpuNs / 1e9}%.2f s  " +
        f"gc=${gcMs / 1e3}%.2f s deser=${deserMs / 1e3}%.2f s fetchWait=${fetchWaitMs / 1e3}%.2f s " +
        f"shufWrite=${shufWriteMs / 1e3}%.2f s")
      val top = lock.synchronized(stageInfo.sortBy(-_._4).take(12).toList)
      top.foreach { case (id, nm, nt, ms) =>
        println(f"  stage $id%4d  $ms%6d ms  $nt%4d tasks  $nm")
      }
    }
    spark.stop()
  }
}
