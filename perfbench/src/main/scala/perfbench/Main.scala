package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}
import graft.SparkEntry
import graft.core.{BatchLedger, Caches, Config, GraftSession, Tables, Watchdog}
import graft.ops.{Inference, Sinks}
import graft.pipelines.DxGroup

/** The benchmark's JVM side. One process, one client thread, closed loop:
  * each operation starts when the previous one has committed.
  *
  * {{{
  * perfbench.Main <workload> <inDir> <outDir> <seconds> <trace 0|1>
  * }}}
  *
  * `inDir` holds the generated inputs (`batches/<name>/documents.parquet`
  * for the dx workloads, `tables/<table>.parquet` for registry_mix). The
  * run writes `outDir/result.json` (every operation with its latency,
  * checksum and output location) and, when traced, `outDir/spans.jsonl`.
  * Correctness is judged afterwards, outside every timed interval, by
  * `perfbench/oracle.py`.
  */
object Main {
  /** Per-operation ceiling: far above any measured operation, far below
    * the benchmark's own time limit. */
  private val OpTimeoutS = 60L

  /** The registry queries of registry_mix: part of the overhead-bound
    * tail of the 315-query suite plus the flagship compositions
    * (README.md says why). */
  val RegistryQueries: Seq[String] = Seq(
    "curation_pipeline", "dx_pipeline", "prostate_fanin", "dedup_jaccard",
    "dedup_index", "q1_agg", "q20_asof_join", "q21_quantile",
    "q28_grouping_sets")

  final case class Op(seq: Int, name: String, pass: Int, traced: Boolean,
                      spanId: Long, startMs: Long, latS: Double,
                      error: Option[String], checksum: Option[String],
                      batchId: Long, input: String, checkOut: String,
                      released: Int)

  /** Order-insensitive hash of every row and column — the action
    * `graft.Bench` times. Unhashable columns fall back to a row count. */
  def checksum(df: DataFrame): String =
    try {
      val v = df.agg(bit_xor(xxhash64(struct(df.columns.map(col): _*))))
        .collect()(0).get(0)
      String.valueOf(v)
    } catch {
      case _: org.apache.spark.sql.AnalysisException => s"count:${df.count()}"
    }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, outDir, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val cpus = sys.env.get("PERFBENCH_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = GraftSession.create(s"local[$cpus]", cpus, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    // the checksum action hashes whole rows; several queries emit maps
    spark.conf.set("spark.sql.legacy.allowHashOnMapType", "true")
    val sessionReadyMs = System.currentTimeMillis()
    val trace = new Trace(spark.sparkContext, traceArg == "1")
    trace.active = false
    new File(outDir).mkdirs()

    val run = workload match {
      case "dx_bulk" | "dx_trickle" => new DxRun(spark, trace, workload, inDir, outDir)
      case "registry_mix"           => new RegistryRun(spark, trace, inDir, outDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    run.warmUp()
    spark.catalog.clearCache()
    System.gc()
    val firstOpMs = System.currentTimeMillis()
    run.timed(seconds)
    val timedEndMs = System.currentTimeMillis()
    trace.drain()

    writeResult(new File(outDir, "result.json"), workload, cpus, jvmStartMs,
      sessionReadyMs, firstOpMs, timedEndMs, run)
    if (trace.enabled) writeSpans(new File(outDir, "spans.jsonl"), trace)
    spark.stop()
  }

  // ---------------------------------------------------------------- output

  private def js(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeResult(f: File, workload: String, cpus: Int, jvmStartMs: Long,
                          sessionReadyMs: Long, firstOpMs: Long, timedEndMs: Long,
                          run: Run): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println("{")
      w.println(s""" "workload": ${js(workload)}, "cpus": $cpus,""")
      w.println(s""" "jvm_start_ms": $jvmStartMs, "session_ready_ms": $sessionReadyMs,""")
      w.println(s""" "first_op_ms": $firstOpMs, "timed_end_ms": $timedEndMs,""")
      w.println(s""" "peak_rss_mb": ${peakRssMb()},""")
      w.println(s""" "ref_checksums": {${run.refChecksums.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${js(k)}: ${js(v)}" }.mkString(", ")}},""")
      w.println(s""" "ref_outputs": {${run.refOutputs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${js(k)}: ${js(v)}" }.mkString(", ")}},""")
      w.println(s""" "oracle_sql": {${run.oracleNames.map(n =>
        s"${js(n)}: ${js(SparkEntry.oracleSql(n))}").mkString(",\n  ")}},""")
      w.println(""" "ops": [""")
      w.println(run.ops.map { o =>
        s"""  {"seq": ${o.seq}, "name": ${js(o.name)}, "pass": ${o.pass}, """ +
        s""""traced": ${o.traced}, "span_id": ${o.spanId}, "start_ms": ${o.startMs}, """ +
        s""""lat_s": ${o.latS}, "error": ${o.error.map(js).getOrElse("null")}, """ +
        s""""checksum": ${o.checksum.map(js).getOrElse("null")}, "batch_id": ${o.batchId}, """ +
        s""""input": ${js(o.input)}, "check_out": ${js(o.checkOut)}, "released": ${o.released}}"""
      }.mkString(",\n"))
      w.println(" ]")
      w.println("}")
    } finally w.close()
  }

  private def writeSpans(f: File, trace: Trace): Unit = {
    val spans = trace.recorded
    val w = new PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val c = Option(trace.counts.get(s.id)).getOrElse(new Counts)
      // root spans carry the union of their operation's task intervals,
      // so idle time (no task running) is span length minus that union
      val busyMs = if (s.parent != 0L) 0L else {
        val iv = spans.filter(_.op == s.id)
          .flatMap(x => Option(trace.counts.get(x.id)).toSeq.flatMap(_.taskIntervals))
          .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curA = -1L; var curB = -1L
        iv.foreach { case (a, b) =>
          if (a > curB) { covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        covered + (curB - curA)
      }
      w.println(
        s"""{"id": ${s.id}, "name": ${js(s.name)}, "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "dur_s": ${s.durNs / 1e9}, """ +
        s""""busy_s": ${busyMs / 1e3}, "jobs": ${c.jobs}, "stages": ${c.stages}, """ +
        s""""tasks": ${c.tasks}, "failed_tasks": ${c.failedTasks}, "cpu_s": ${c.cpuNs / 1e9}, """ +
        s""""gc_s": ${c.gcMs / 1e3}, "deser_s": ${c.deserMs / 1e3}, "spill_bytes": ${c.spillBytes}, """ +
        s""""shuffle_write_bytes": ${c.shuffleWriteBytes}, """ +
        s""""result_bytes": ${c.resultBytes}, "output_bytes": ${c.outputBytes}}""")
    } finally w.close()
  }

  // ------------------------------------------------------------- workloads

  abstract class Run(val spark: SparkSession, val trace: Trace, val outDir: String) {
    val ops = ArrayBuffer.empty[Op]
    val refChecksums = collection.mutable.Map.empty[String, String]
    val refOutputs = collection.mutable.Map.empty[String, String]
    def oracleNames: Seq[String]
    def warmUp(): Unit
    def timed(seconds: Double): Unit

    protected val ledger = new BatchLedger(spark, s"$outDir/ledger")
    protected val cfg = Config.PipelineConfig()

    /** DxGroup stage self time, traced: force each prefix of the pipeline
      * in turn; a stage's time is its prefix's minus the previous one's. */
    protected def decompose(raw: DataFrame, batchId: Long): Unit =
      trace.span("decompose") {
        val spec = Inference.ModelSpec(1L, cfg.modelName, cfg.modelVersion,
          "models/" + cfg.modelName, cfg.numLabels)
        trace.span("stage.read") { checksum(raw) }
        trace.span("stage.clean") { checksum(DxGroup.clean(raw, batchId)) }
        trace.span("stage.prep") { checksum(DxGroup.prep(DxGroup.clean(raw, batchId))) }
        trace.span("stage.predict") {
          checksum(DxGroup.predict(DxGroup.prep(DxGroup.clean(raw, batchId)),
            DxGroup.labelsDim(spark, cfg.numLabels), spec, cfg))
        }
        Caches.releaseAll()
      }

    /** Run one operation under the watchdog, traced if `traced`; the
      * body returns (latency seconds, checksum, batch id, released). */
    protected def op(seq: Int, name: String, pass: Int, traced: Boolean,
                     input: String, checkOut: String)
                    (body: => (Double, Option[String], Long, Int)): Op = {
      var res = (0.0, Option.empty[String], 0L, 0)
      val startMs = System.currentTimeMillis()
      trace.active = traced
      val err = Watchdog.run(spark.sparkContext, name, OpTimeoutS) {
        trace.span(s"op:$name") {
          res = body
        }
      }
      trace.active = false
      val rootSpan = if (traced) trace.recorded.filter(_.parent == 0L).map(_.id).max else 0L
      val o = Op(seq, name, pass, traced, rootSpan, startMs, res._1, err, res._2,
        res._3, input, checkOut, res._4)
      ops += o
      o
    }
  }

  /** dx_bulk and dx_trickle: each batch allocates its id in the batch
    * ledger, reads its input through `Tables`, runs `DxGroup.run` and
    * commits the result; bulk writes one directory per batch with
    * `Sinks.parquet`, trickle appends to one growing sink directory.
    * Traced batches are then re-run stage by stage (outside the latency)
    * so each DxGroup stage gets its own self time.
    */
  final class DxRun(spark: SparkSession, trace: Trace, workload: String,
                    inDir: String, outDir: String) extends Run(spark, trace, outDir) {
    private val batches: Seq[String] =
      Option(new File(inDir, "batches").listFiles()).toSeq.flatten
        .filter(_.isDirectory).map(_.getPath).sorted
    require(batches.nonEmpty, s"no input batches under $inDir/batches")
    private val bulk = workload == "dx_bulk"
    private val sinkRoot = s"$outDir/sink"
    private val warmDir = s"$outDir/warm"
    def oracleNames: Seq[String] = Seq("dx_pipeline")

    private def batch(seq: Int, input: String, traced: Boolean, sink: String): Op =
      op(seq, "batch", 0, traced, input, if (bulk) "" else sink) {
        val t0 = System.nanoTime()
        val id = trace.span("ledger") {
          ledger.newBatch(workload, cfg.dateFrom, cfg.dateTo, s"input=$input")
        }
        val raw = trace.span("tables") { Tables.table(spark, input, "documents") }
        val df = trace.span("build") { DxGroup.run(spark, raw, id, cfg) }
        trace.span("action") {
          if (bulk) trace.span("sink") { Sinks.parquet(df, s"$sink/batch_$id") }
          else trace.span("sink") { df.write.mode(SaveMode.Append).parquet(sink) }
        }
        val lat = (System.nanoTime() - t0) / 1e9
        val n = trace.span("release") { Caches.releaseAll() }
        (lat, None, id, n)
      }

    def warmUp(): Unit = {
      val n = if (bulk) 3 else math.min(batches.size, 6)
      (0 until n).foreach { i =>
        val o = batch(-1 - i, batches(i % batches.size), traced = false, warmDir)
        o.error.foreach(e => throw new IllegalStateException(s"warm-up batch failed: $e"))
      }
      ops.clear()
    }

    def timed(seconds: Double): Unit = {
      val t0 = System.nanoTime()
      var seq = 0
      while (seq < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
        val input = batches(seq % batches.size)
        val traced = trace.enabled && seq % 2 == 1
        val o = batch(seq, input, traced, sinkRoot)
        if (traced && o.error.isEmpty) {
          trace.active = true
          decompose(Tables.table(spark, input, "documents"), o.batchId)
          trace.active = false
        }
        seq += 1
      }
    }
  }

  /** registry_mix: passes over a fixed list of registry queries; each
    * query is built through the registry, forced by the checksum action,
    * and its tracked caches released. The warm-up pass also writes each
    * query's result, which the oracle check compares with DuckDB; every
    * timed checksum must equal the warm-up checksum of that same result
    * (a query whose result changes between runs fails there).
    * Each pass is recorded in the batch ledger and opens its input
    * tables through `Tables`; traced passes also run the DX stages on the
    * registry's documents table.
    */
  final class RegistryRun(spark: SparkSession, trace: Trace, inDir: String,
                          outDir: String) extends Run(spark, trace, outDir) {
    private val sfDir = s"$inDir/tables"
    private val queries = {
      val all = SparkEntry.queries
      RegistryQueries.map(n => n -> all(n)).toMap
    }
    def oracleNames: Seq[String] = RegistryQueries

    private def query(seq: Int, name: String, pass: Int, traced: Boolean,
                      write: Option[String]): Op = {
      val fn = queries(name)
      op(seq, name, pass, traced, sfDir, write.getOrElse("")) {
        val t0 = System.nanoTime()
        val df = trace.span("build") { fn(spark, sfDir) }
        val cs = trace.span("action") { checksum(df) }
        val lat = (System.nanoTime() - t0) / 1e9
        write.foreach(p => trace.span("sink") { Sinks.parquet(df, p) })
        val n = trace.span("release") { Caches.releaseAll() }
        (lat, Some(cs), 0L, n)
      }
    }

    private def passPrelude(pass: Int, traced: Boolean): Unit = {
      trace.active = traced
      trace.span("pass") {
        trace.span("ledger") {
          ledger.newBatch("registry_mix", cfg.dateFrom, cfg.dateTo, s"pass=$pass")
        }
        trace.span("tables") { Tables.all.foreach(t => Tables.table(spark, sfDir, t)) }
        if (traced) decompose(Tables.documents(spark, sfDir), 1L)
      }
      trace.active = false
    }

    /** Two passes: the JIT keeps speeding passes up well after the
      * first one. The first pass also writes the results to check. */
    def warmUp(): Unit = {
      RegistryQueries.foreach { name =>
        val out = s"$outDir/verified/$name"
        val o = query(-1, name, -1, traced = false, Some(out))
        o.error.foreach(e => throw new IllegalStateException(s"warm-up $name failed: $e"))
        refChecksums(name) = o.checksum.get
        refOutputs(name) = out
      }
      RegistryQueries.foreach(name => query(-1, name, -2, traced = false, None))
      ops.clear()
    }

    def timed(seconds: Double): Unit = {
      val t0 = System.nanoTime()
      var pass = 0
      var seq = 0
      while (pass < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
        passPrelude(pass, trace.enabled)
        RegistryQueries.zipWithIndex.foreach { case (name, qi) =>
          val traced = trace.enabled && (pass + qi) % 2 == 1
          val write = if (traced) Some(s"$outDir/checked/$name.$pass") else None
          query(seq, name, pass, traced, write)
          seq += 1
        }
        pass += 1
      }
    }
  }
}
