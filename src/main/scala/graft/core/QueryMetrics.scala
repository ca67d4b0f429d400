package graft.core

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The per-query execution record: one SparkListener that accounts each
  * job group's jobs, stages and tasks.
  *
  * Attribution is by JOB GROUP ([[Watchdog]] tags every query run
  * `name#seq`), not by wall-clock window: a timed-out query's straggler
  * tasks can post TaskEnd events after the next query starts, and a
  * reset-and-accumulate counter would charge them to the innocent
  * neighbor. TaskEnd and StageCompleted carry no group, so `onJobStart`
  * records stageId → group and the rest is attributed through the stage.
  *
  * A stage is named by the first graft frames of its call site. AQE
  * submits query stages from its own thread pool, whose call site holds
  * no graft frame; such a stage is named by the call site of its SQL
  * execution (`spark.sql.execution.id` in the job's properties), taken
  * from the execution's start event.
  *
  * Jobs started inside [[building]] (the query's construction, before its
  * action: `Tables` schema inference, `Broadcasts.bounded`'s count,
  * `Curation.stageBarrier`, ...) carry a job tag and count as
  * `build_jobs` as well as `jobs`.
  *
  * Registered by the harness mains (Verify, Bench) and the specs that
  * read it, never by `GraftSession.create`: library callers pay for no
  * listener they do not read.
  */
final class QueryMetrics private (sc: SparkContext) extends SparkListener {
  import QueryMetrics._

  /** stage id → (job group, SQL execution id) */
  private val stageGroup = new ConcurrentHashMap[Int, (String, Option[Long])]()
  /** execution id → (job group, graft call site) */
  private val execSite = new ConcurrentHashMap[Long, (String, String)]()
  private val groups = new ConcurrentHashMap[String, Record]()

  private def add(group: String, delta: Record): Unit = {
    groups.merge(group, delta, _ + _); ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).foreach { g =>
      val build = Option(e.properties.getProperty(TagsKey))
        .exists(_.split(",").contains(BuildTag))
      val exec = Option(e.properties.getProperty(ExecutionKey)).map(_.toLong)
      e.stageIds.foreach(stageGroup.put(_, (g, exec)))
      add(g, Record(jobs = 1, buildJobs = if (build) 1 else 0))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      for (g <- s.jobGroupId; site = graftSite(s.details) if site.nonEmpty)
        execSite.put(s.executionId, (g, site))
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { case (g, exec) =>
      val si = e.stageInfo
      val site = Some(graftSite(si.details)).filter(_.nonEmpty)
        .orElse(exec.flatMap(x => Option(execSite.get(x))).map(_._2))
        .getOrElse("")
      val name = si.name.takeWhile(_ != '\n') + (if (site.isEmpty) "" else s" | $site")
      val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
      add(g, Record(stages = 1,
        slowest = Seq(StageTime(si.stageId, name, si.numTasks, ms))))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { case (g, _) =>
      val failed = if (e.taskInfo.successful) 0L else 1L
      add(g, Option(e.taskMetrics).fold(
          Record(tasks = 1, failedTasks = failed)) { m =>
        Record(tasks = 1, failedTasks = failed,
          taskRunS = m.executorRunTime / 1e3, taskCpuS = m.executorCpuTime / 1e9,
          gcS = m.jvmGCTime / 1e3, deserS = m.executorDeserializeTime / 1e3,
          fetchWaitS = m.shuffleReadMetrics.fetchWaitTime / 1e3,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
          resultBytes = m.resultSize)
      })
    }

  /** Run a query's construction: the jobs it starts count as
    * `build_jobs`, and its wall time as `build_s`, of the calling
    * thread's job group. */
  def building[T](body: => T): T = {
    val t0 = System.nanoTime()
    sc.addJobTag(BuildTag)
    try body
    finally {
      sc.removeJobTag(BuildTag)
      Option(sc.getLocalProperty(GroupKey)).foreach(
        add(_, Record(buildS = (System.nanoTime() - t0) / 1e9)))
    }
  }

  /** The record of every run of `name` (job groups `name#*`) since the
    * last `take(name)`, after draining the listener bus; those groups are
    * then forgotten. `partial` is set when the bus did not drain, so the
    * counts may be low. */
  def take(name: String): Record = {
    val drained = org.apache.spark.sql.graft.Shims.drainListenerBus(sc)
    var r = Record()
    groups.keySet.forEach { g =>
      if (g.startsWith(name + "#")) Option(groups.remove(g)).foreach(x => r += x)
    }
    stageGroup.values.removeIf(_._1.startsWith(name + "#"))
    execSite.values.removeIf(_._1.startsWith(name + "#"))
    r.copy(partial = !drained)
  }
}

object QueryMetrics {
  private val GroupKey = "spark.jobGroup.id"
  private val TagsKey = "spark.job.tags"
  private val ExecutionKey = "spark.sql.execution.id"
  private val BuildTag = "graft-build"
  private val SlowestStages = 8
  /** Classes of the code that runs a query rather than builds it; a
    * stage's call site names the first graft frames outside these. */
  private val HarnessFrames =
    Seq("graft.Bench", "graft.Verify", "graft.core.Watchdog", "graft.core.QueryMetrics")

  /** The first two graft frames of a call site's long form, outside the
    * harness (a frame is `<class>.<method>(<file>:<line>)`), or "". */
  private def graftSite(details: String): String =
    details.linesIterator.map(_.trim)
      .filter(l => l.startsWith("graft.") && !HarnessFrames.exists(h =>
        l.startsWith(h + ".") || l.startsWith(h + "$")))
      .take(2).mkString(" <- ")

  def register(sc: SparkContext): QueryMetrics = {
    val m = new QueryMetrics(sc)
    sc.addSparkListener(m)
    m
  }

  final case class StageTime(id: Int, name: String, tasks: Int, ms: Long)

  final case class Record(jobs: Long = 0, buildJobs: Long = 0, buildS: Double = 0,
                          stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
                          taskRunS: Double = 0, taskCpuS: Double = 0, gcS: Double = 0,
                          deserS: Double = 0, fetchWaitS: Double = 0,
                          shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
                          resultBytes: Long = 0, slowest: Seq[StageTime] = Nil,
                          partial: Boolean = false) {
    def +(o: Record): Record = Record(jobs + o.jobs, buildJobs + o.buildJobs,
      buildS + o.buildS, stages + o.stages, tasks + o.tasks,
      failedTasks + o.failedTasks, taskRunS + o.taskRunS, taskCpuS + o.taskCpuS,
      gcS + o.gcS, deserS + o.deserS, fetchWaitS + o.fetchWaitS,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
      resultBytes + o.resultBytes,
      if (o.slowest.isEmpty) slowest
      else (slowest ++ o.slowest).sortBy(-_.ms).take(SlowestStages),
      partial || o.partial)

    def json: String = {
      val slow = slowest.map(s =>
        s"""{"id":${s.id},"name":${jsonString(s.name)},"tasks":${s.tasks},"ms":${s.ms}}""")
        .mkString("[", ",", "]")
      f"""{"jobs":$jobs,"build_jobs":$buildJobs,"build_s":$buildS%.3f,""" +
        s""""stages":$stages,"tasks":$tasks,"failed_tasks":$failedTasks,""" +
        f""""task_run_s":$taskRunS%.3f,"task_cpu_s":$taskCpuS%.3f,"gc_s":$gcS%.3f,""" +
        f""""deser_s":$deserS%.3f,"fetch_wait_s":$fetchWaitS%.3f,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
        s""""result_bytes":$resultBytes,"slowest_stages":$slow,"partial":$partial}"""
    }
  }

  /** JSON string literal: backslash, quote, control characters and every
    * non-ASCII character escaped, so the harness records are pure ASCII
    * and survive any reader's charset (a decomposed Unicode literal in an
    * oracle, `ta_nfc`, must reach DuckDB intact). */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
