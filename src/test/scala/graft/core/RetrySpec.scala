package graft.core

import graft.SparkSpec
import graft.core.Retry.RetryPolicy

/** O5 — retry policy (reference default_args `retries=1,
  * retry_delay=5min`): app-level stage retries + the task-attempt
  * config surface.
  */
class RetrySpec extends SparkSpec {

  test("withRetry: transient failure on attempt 1 retries after the " +
      "policy delay and succeeds (the reference's retries=1 shape)") {
    var calls = 0
    val slept = collection.mutable.ArrayBuffer.empty[Long]
    val out = Retry.withRetry(RetryPolicy(retries = 1,
        retryDelayMillis = 300000), slept.append(_)) {
      calls += 1
      if (calls == 1) sys.error("transient: connection reset")
      42
    }
    assert(out == 42 && calls == 2)
    assert(slept.toSeq == Seq(300000L)) // exactly retry_delay, once
  }

  test("withRetry: attempts exhausted rethrows the LAST failure with " +
      "earlier ones suppressed (post-mortem sees the history)") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Retry.withRetry(RetryPolicy(retries = 2, retryDelayMillis = 0),
        _ => ()) {
        calls += 1
        sys.error(s"fail $calls")
      }
    }
    assert(calls == 3) // 1 try + 2 retries
    assert(e.getMessage == "fail 3")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("fail 1", "fail 2"))
  }

  test("withRetry: retries=0 fails fast, success path never sleeps") {
    var slept = false
    intercept[RuntimeException] {
      Retry.withRetry(RetryPolicy(retries = 0), _ => slept = true) {
        sys.error("boom")
      }
    }
    val ok = Retry.withRetry(RetryPolicy(retries = 3), _ => slept = true)(7)
    assert(ok == 7 && !slept)
  }

  test("withRetry: fatal errors are NOT retried (OOM must surface, " +
      "not loop)") {
    var calls = 0
    intercept[OutOfMemoryError] {
      Retry.withRetry(RetryPolicy(retries = 5, retryDelayMillis = 0),
        _ => ()) {
        calls += 1
        throw new OutOfMemoryError("simulated")
      }
    }
    assert(calls == 1)
  }

  test("withRetry: a failed-then-retried Spark stage (query + idempotent " +
      "write) converges — the Airflow task-retry analogue end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_retry").toString
    var calls = 0
    Retry.withRetry(RetryPolicy(retries = 1, retryDelayMillis = 0), _ => ()) {
      calls += 1
      val df = graft.core.Tables.region(spark, SparkSpec.Sf0001)
      // transient failure AFTER a partial write: first attempt dies
      // mid-stage, the retry overwrites — idempotent-sink pairing
      df.limit(1).write.mode("overwrite").parquet(s"$dir/out")
      if (calls == 1) sys.error("transient mid-stage failure")
      df.write.mode("overwrite").parquet(s"$dir/out")
    }
    assert(calls == 2)
    assert(spark.read.parquet(s"$dir/out").count() ==
      graft.core.Tables.region(spark, SparkSpec.Sf0001).count())
  }

  test("RetryPolicy: invalid policies fail construction") {
    assertThrows[IllegalArgumentException](RetryPolicy(retries = -1))
  }
}
