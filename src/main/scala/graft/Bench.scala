package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}
import graft.core.{GraftSession, QueryMetrics, Watchdog}

/** Benchmark main. Harness-survival + honest-measurement design (the
  * round-9/10 lessons):
  *
  *   - STREAMING OUTPUT: after every query completion the COMPLETE
  *     record-so-far is printed as one JSON line (same shape as the final
  *     line, `"partial":true`). A run killed at the stage budget still
  *     leaves its last line as a usable, self-consistent record — the
  *     round-9 bench was killed at 3600 s and recorded nothing.
  *   - COMPACT FINAL LINE: the driver keeps only a 2000-char tail of the
  *     stage log, and round 10's final line (306-entry per-query map +
  *     243-name failed list, ~10 KB) was sliced off — BENCH_r10 parsed to
  *     null. The partial lines carry the full per-query map; the FINAL
  *     line carries totals, counts, the 15 slowest queries and at most 10
  *     failed names (≤ ~1.5 KB with worst-case name lengths).
  *   - WATCHDOG (graft.core.Watchdog): each (query, pass) runs on a fresh
  *     daemon thread that sets its OWN job group before acting — round
  *     10 set the group on the main thread and ran the action on a pooled
  *     Future worker, so cancelJobGroup cancelled nothing and a timed-out
  *     query kept running under later queries' clocks.
  *   - CHECKSUM ACTION, not count(): Catalyst prunes every unreferenced
  *     column under count(), so a pure scan-projection query measured ~0
  *     no matter how expensive its expressions were (ta_gopher_rep: 0.1 s
  *     in bench vs 231 s in verify at r9). The combiner is BIT_XOR of
  *     xxhash64 over all columns — order-insensitive, cannot overflow.
  *     Round 10 used sum(xxhash64(...)), which under Spark 4's default
  *     ANSI mode throws ARITHMETIC_OVERFLOW for any result bigger than a
  *     handful of rows: 243/306 queries were reported failed by the
  *     HARNESS's own measuring action.
  *   - PER-QUERY RECORD: [[graft.core.QueryMetrics]] accounts each run's
  *     jobs, stages and tasks by its Watchdog job group, construction
  *     jobs split out; the persisted record carries the best pass's
  *     under `metrics` (bench_results/README.md). Stdout is unchanged.
  */
object Bench {
  // generous vs the worst steady-state query at sf0.1 (~23 s pre-codegen)
  // so no legitimate query is clipped into the failed list, tight vs the
  // 3600 s stage budget (300+ queries x 2 passes can afford ~5 s mean;
  // a single runaway forfeits <=120 s, not the stage)
  private val QueryTimeoutS = 120L

  /** Force full evaluation of every output column. Map-typed columns hash
    * only under the legacy flag (set by GraftSession.forHarness); anything
    * else unhashable falls back to count() so the query is still timed,
    * just weaker. */
  private def touchAll(df: DataFrame): Unit = {
    try df.agg(bit_xor(xxhash64(struct(df.columns.map(col): _*)))).collect()
    catch { case _: org.apache.spark.sql.AnalysisException => df.count() }
    ()
  }

  /** Code-independent host-speed canary: a fixed synthetic workload
    * (nested xxhash64 chain over a seeded range — pure whole-stage-codegen
    * CPU, no graft code, no I/O, no shuffle) timed best-of-2 so the first
    * pass's codegen/JIT cost doesn't leak into the reading. Run before and
    * after the suite and recorded in the bench JSON, so "this run was 15%
    * slow" is a measurement of the HOST rather than an inference from the
    * median per-query ratio (r13's 397->484 s same-code drift had to be
    * argued statistically; this makes it a direct reading). A real global
    * code regression shows as median-ratio high WHILE the canary is ~1.0 —
    * tools/bench_gate.py cross-checks exactly that. */
  private def hostCanary(spark: SparkSession, parts: Int): Double = {
    // 512M rows x 8 chained hashes; deterministic, ~2-4 s at local[32]
    val expr = (1 to 8).foldLeft("id")((e, _) => s"xxhash64($e, id)")
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 512L * 1000 * 1000, 1L, parts)
        .selectExpr(s"bit_xor($expr) AS x").collect()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.harnessCpus
    val spark = GraftSession.forHarness("graft-bench")
    val sc = spark.sparkContext
    // SPARK_GRAFT_BENCH_ONLY=name1,name2 restricts the run to a subset —
    // for one-off idle-host re-times of a single query without paying the
    // 300-query suite. Not used by the driver (full-suite records only).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // select fails fast on a typo'd filter: a zero-match subset would otherwise
    // bench nothing and still emit a record with n_done=0
    val selected = SparkEntry.select(only).toSet
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] =
      SparkEntry.queries.toSeq.filter { case (n, _) => selected(n) }
    val names = queries.map(_._1)
    val timedOut = collection.mutable.Set.empty[String]
    var canaryBefore = -1.0
    var canaryAfter = -1.0

    // Invalidate any PRIOR run's full record up front: the file is only
    // (re)written by the final emit, so if this run is killed mid-way a
    // stale record from last week would otherwise survive and
    // bench_gate.py would silently validate times that don't correspond
    // to the current code. A SUBSET run (SPARK_GRAFT_BENCH_ONLY) never
    // touches the default path — a one-off re-time must not destroy the
    // last full-suite record nor leave a 1-query file that bench_gate
    // would read as 313 missing queries; it writes (stamped
    // "subset":true, which bench_gate refuses) only where the env
    // explicitly points.
    val benchOutPath = java.nio.file.Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_OUT", "bench_results/latest.json"))
    val writeRecord = only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT")
    if (writeRecord) {
      try java.nio.file.Files.deleteIfExists(benchOutPath)
      catch { case e: Exception =>
        System.err.println(s"[bench] WARN could not clear $benchOutPath: $e") }
      ()
    }

    // warmup: run every query once at the smallest scale factor so the
    // measured pass times steady-state execution, not first-run codegen
    // compilation and JIT (cold-vs-warm was up to 10x on the sketch ops)
    canaryBefore = hostCanary(spark, cpus)
    System.err.println(f"[bench] host canary (before): $canaryBefore%.3f s")

    val warmDir = "/root/testdata/sf0.001"
    queries.foreach { case (name, fn) =>
      Watchdog.run(sc, s"warm:$name", QueryTimeoutS) { touchAll(fn(spark, warmDir)) }
      graft.core.Caches.releaseAll()
    }
    // drop warmup-scale cached relations + let the heap settle, so the
    // timed pass doesn't inherit GC pressure from warmup
    spark.catalog.clearCache()
    System.gc()
    // registered after the warm-up: only the timed passes are recorded
    val metrics = QueryMetrics.register(sc)

    // two timed passes (was three: trimmed to fit the 3600 s stage budget
    // at 300+ queries). Per query we report the BEST pass (steady-state
    // plan quality, immune to a GC pause landing on one pass); headline is
    // the MEDIAN of per-pass totals over queries that succeeded in every
    // pass — for an even pass count the two middle values are AVERAGED
    // (round 10 took the upper one, shifting the headline pessimistic).
    val nPasses = 2
    // the driver kills the whole stage at 3600 s; pass 2 is a precision
    // refinement (best-of-2), never worth risking the record for. If
    // JVM-start → end-of-pass-1 (so sbt/compile/warmup all count, as they
    // do against the driver's clock) already spent more than budgetCutoff
    // of the stage, the single-pass record stands.
    def elapsedS: Double =
      (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "3600").toDouble
    val budgetCutoff = 0.40
    // passTimes(pass)(name) = seconds, -1 on failure/timeout
    val passTimes = Array.fill(nPasses)(collection.mutable.LinkedHashMap.empty[String, Double])
    // bestMetrics(name) = the execution record of the query's best pass
    val bestMetrics = collection.mutable.Map.empty[String, QueryMetrics.Record]
    def emit(partial: Boolean): Unit = {
      val done = names.filter(n => passTimes.exists(_.contains(n)))
      val best = done.map { n =>
        val ok = passTimes.flatMap(_.get(n)).filter(_ >= 0)
        n -> (if (ok.isEmpty) -1.0 else ok.min)
      }
      val failed = best.collect { case (k, v) if v < 0 => k }.sorted
      val bestTotal = best.collect { case (_, v) if v >= 0 => v }.sum
      // per-pass sums restricted to queries that succeeded in EVERY pass
      // that has started, so all per-pass totals compare the same set
      val started = passTimes.filter(_.nonEmpty)
      val inAll = done.filter(n => started.forall(_.get(n).exists(_ >= 0))).toSet
      // totals stay in PASS ORDER (pass1_total really is pass 1 — sorting
      // here would relabel the passes); only the median sorts a copy
      val totals = started.map(p => p.collect { case (k, v) if inAll(k) => v }.sum)
      val sortedTotals = totals.sorted
      val median =
        if (totals.isEmpty) 0.0
        else if (totals.length % 2 == 1) sortedTotals(totals.length / 2)
        else (sortedTotals(totals.length / 2 - 1) +
          sortedTotals(totals.length / 2)) / 2.0
      // partial lines carry the FULL per-query map (the driver's log tail
      // always holds the last few); the final line stays compact — only
      // the 15 slowest + 10 failed names — so the 2000-char tail the
      // driver keeps (BENCH_r10: "tail" len 2000, "parsed" null for
      // every round to date) always contains the whole headline line
      // even with worst-case query-name lengths plus the sbt footer.
      val qShown =
        if (partial) best
        else best.filter(_._2 >= 0).sortBy(-_._2).take(15)
      val qs = qShown.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
        .mkString("{", ",", "}")
      val failedShown = if (partial) failed else failed.take(10)
      val failedJson = failedShown.map("\"" + _ + "\"").mkString("[", ",", "]")
      val passTotalsJson = totals.zipWithIndex
        .map { case (t, i) => f""""pass${i + 1}_total":$t%.4f""" }.mkString(",")
      println(
        f"""{"metric":"median_pass_total","value":$median%.4f,"unit":"sec","queries":$qs,"runs":$nPasses,""" +
        f""""best_total":$bestTotal%.4f,$passTotalsJson,""" +
        s""""failed":$failedJson,"n_failed":${failed.size},"n_done":${done.size},""" +
        f""""canary_before_s":$canaryBefore%.3f,"canary_after_s":$canaryAfter%.3f,""" +
        s""""partial":$partial,"sf":"$sfDir"}""")
      // The driver's log tail keeps only the compact final line, so the
      // FULL per-query map was transient ("partial" lines) and per-query
      // regression tracking across rounds lived in PLANS.md prose. The
      // final emit also persists the complete record as a repo artifact
      // (bench_results/, committed per round; tools/bench_gate.py diffs
      // it against BASELINE.json's map with a per-query ratio gate).
      if (!partial) {
        def qmap(m: Iterable[(String, Double)]): String =
          m.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
            .mkString("{", ",", "}")
        val passMaps = passTimes.filter(_.nonEmpty).map(qmap(_))
          .mkString("[", ",", "]")
        val metricsMap = best.collect { case (n, v) if v >= 0 =>
          "\"" + n + "\":" + bestMetrics(n).json
        }.mkString("{", ",", "}")
        val body =
          f"""{"sf":"$sfDir","cpus":"$cpus","passes":$nPasses,""" +
          s""""subset":${only.isDefined},""" +
          f""""median_pass_total":$median%.4f,"best_total":$bestTotal%.4f,$passTotalsJson,""" +
          f""""canary_before_s":$canaryBefore%.3f,"canary_after_s":$canaryAfter%.3f,""" +
          s""""n_failed":${failed.size},"n_done":${done.size},""" +
          s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
          s""""best":${qmap(best)},"pass_times":$passMaps,"metrics":$metricsMap}"""
        // auxiliary persistence, never the run's verdict: an unwritable
        // path must not crash the main after a full successful bench —
        // the compact stdout line above is the actual driver contract
        if (writeRecord) try {
          graft.core.AtomicFiles.writeString(benchOutPath, body)
          System.err.println(s"[bench] full per-query record -> $benchOutPath")
        } catch {
          case e: Exception =>
            System.err.println(s"[bench] WARN could not write $benchOutPath: $e")
        }
      }
    }

    for (p <- 0 until nPasses
         if p == 0 || elapsedS < budgetS * budgetCutoff) {
      queries.foreach { case (name, fn) =>
        if (timedOut(name)) passTimes(p)(name) = -1.0
        else {
          val t0 = System.nanoTime()
          val err = Watchdog.run(sc, name, QueryTimeoutS) {
            touchAll(metrics.building(fn(spark, sfDir)))
          }
          val dt = err match {
            case None => (System.nanoTime() - t0) / 1e9
            case Some(reason) =>
              if (reason.startsWith("TIMEOUT")) timedOut += name
              System.err.println(s"[bench] $name failed: $reason")
              -1.0
          }
          graft.core.Caches.releaseAll() // outside the timed span: harness cost
          val m = metrics.take(name)
          if (dt >= 0 && passTimes.flatMap(_.get(name)).forall(t => t < 0 || dt < t))
            bestMetrics(name) = m
          passTimes(p)(name) = dt
          emit(partial = true)
        }
      }
    }
    canaryAfter = hostCanary(spark, cpus)
    System.err.println(f"[bench] host canary (after): $canaryAfter%.3f s")
    emit(partial = false)
    spark.stop()
  }
}
