package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call into a library layer. `op` is the
  * operation (batch or query run) the span belongs to; `parent` is 0 for
  * an operation's root span.
  */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startMs: Long, endMs: Long, durNs: Long)

/** Spark work attributed to one span. */
final class Counts {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L; var spillBytes = 0L
  var shuffleWriteBytes = 0L; var resultBytes = 0L
  var outputBytes = 0L
  /** (launch, finish) epoch-ms of every task, for the idle-time union. */
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** Span recorder plus the Spark listener that attributes jobs, stages and
  * tasks to spans.
  *
  * Attribution follows the job-group pattern of `graft.core.Watchdog` and
  * `graft.Verify`: while a span is open its thread's job group is a
  * span-unique id, so every job submitted inside it carries that id, and
  * stages and tasks are mapped back through their job's group. When the
  * span closes the enclosing group (the parent span's, or the Watchdog's)
  * is restored. Spans are recorded only while `active` is set (the
  * traced operations of a traced run); otherwise `span` only runs the body.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  @volatile var active: Boolean = enabled
  private val nextId = new AtomicLong()
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val GroupPrefix = "pb-span-"

  val counts = new ConcurrentHashMap[Long, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobsStarted = new AtomicInteger()
  private val jobsEnded = new AtomicInteger()

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix))
      .map(_.stripPrefix(GroupPrefix).toLong)

  private def countsOf(span: Long): Counts =
    counts.computeIfAbsent(span, _ => new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      spanOf(e.properties).foreach { s =>
        countsOf(s).synchronized { countsOf(s).jobs += 1 }
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobsEnded.incrementAndGet(); ()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { s =>
        stageSpan.put(e.stageInfo.stageId, s)
        val c = countsOf(s)
        c.synchronized { c.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = countsOf(s)
        val info = e.taskInfo
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (!info.successful || info.attemptNumber > 0) c.failedTasks += 1
          c.taskIntervals += ((info.launchTime, info.finishTime))
          if (m != null) {
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.deserMs += m.executorDeserializeTime
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.resultBytes += m.resultSize
            c.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Time `body` as a span named `name`; `op` starts a new operation when
    * no span is open on this thread.
    */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId.incrementAndGet()
      val outer = stack.get()
      val (parent, op) = outer.headOption.getOrElse((0L, id))
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = true)
      stack.set((id, op) :: outer)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val durNs = System.nanoTime() - t0
        stack.set(outer)
        if (prevGroup != null) sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = true)
        else sc.clearJobGroup()
        synchronized {
          spans += Span(id, name, parent, op, startMs, System.currentTimeMillis(), durNs)
        }
      }
    }

  /** Wait until the listener bus has delivered the end of every job
    * started so far (task events precede their job's end event).
    */
  def drain(timeoutMs: Long = 20000): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobsEnded.get() < jobsStarted.get() &&
           System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  def recorded: Seq[Span] = synchronized(spans.toList)
}
