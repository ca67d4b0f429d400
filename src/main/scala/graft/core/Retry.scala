package graft.core

/** O5 — retry policy (SURVEY.md §2; reference: the Airflow DAG
  * `default_args` block `retries=1, retry_delay=timedelta(minutes=5)`,
  * diagnostic_group_pipeline_with_api.py:29-35, mirrored in every DAG
  * file). Airflow retries a whole TASK after a delay; the Spark-native
  * split of that policy has two layers:
  *
  *   - TASK-ATTEMPT retries are Spark's own `spark.task.maxFailures`
  *     (per-task, in-scheduler, no driver involvement), set at cluster
  *     launch like any other Spark conf.
  *   - STAGE/APP-LEVEL retries — the actual analogue of an Airflow task
  *     retry, re-running a whole pipeline stage (a query + its write)
  *     after transient infrastructure failure — are [[Retry.withRetry]],
  *     a driver-side wrapper with the reference's same
  *     (attempts, fixed delay) shape.
  *
  * Deliberately NOT exponential-backoff-with-jitter: the contract is the
  * reference's policy, stated verbatim, so a user migrating a DAG keeps
  * identical failure semantics. Wall-clock sleeps are injectable
  * (`sleep`) so specs prove the retry path without waiting real minutes.
  */
object Retry {

  /** The reference's default: one retry after five minutes. */
  final case class RetryPolicy(
      retries: Int = 1,
      retryDelayMillis: Long = 5L * 60 * 1000) {
    require(retries >= 0, "retries must be >= 0")
    require(retryDelayMillis >= 0, "retryDelay must be >= 0")
  }

  /** Run `body`, retrying up to `policy.retries` times after
    * `policy.retryDelayMillis` on ANY non-fatal failure — the Airflow
    * task-retry semantics (Airflow retries unconditionally; transient
    * vs permanent triage is the body's job, exactly as in the
    * reference). Returns the first success; rethrows the LAST failure
    * once attempts are exhausted, with earlier failures attached as
    * suppressed so post-mortems see the whole history.
    *
    * Idempotency note (same as Airflow's): `body` re-runs WHOLE — pair
    * it with idempotent sinks ([[BatchLedger]] appends, marker-committed
    * index writes) so a retry after a partial write converges instead
    * of double-writing. That pairing is the library's standing sink
    * contract; nothing extra is needed here.
    */
  def withRetry[T](policy: RetryPolicy = RetryPolicy(),
                   sleep: Long => Unit = Thread.sleep)(body: => T): T = {
    var earlier = List.empty[Throwable]
    var attempt = 0
    while (true) {
      try return body
      catch {
        case scala.util.control.NonFatal(e) =>
          if (attempt >= policy.retries) {
            earlier.reverse.foreach(e.addSuppressed)
            throw e
          }
          earlier ::= e
          attempt += 1
          sleep(policy.retryDelayMillis)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
