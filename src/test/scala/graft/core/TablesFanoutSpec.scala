package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Pins the scan fan-out contract (Tables.fanout): OPT-IN per query
  * (default mode "auto" fires only under a fan-out hint — the
  * r16 A/B proved default-on is a net suite pessimization), fires only
  * below the cores-worth-of-splits threshold and above the byte floor,
  * is plan-visible as one round-robin exchange, and never changes
  * table CONTENTS (row order may change; the rewrite is a
  * pure-parallelism rewrite for order-insensitive consumers).
  *
  * Uses `newSession()` so the lowered byte floor can't leak into suites
  * running in parallel against the shared session's conf.
  */
class TablesFanoutSpec extends SparkSpec {

  private def fanoutHinted[T](body: => T): T =
    QueryScope.withHints(Hints(fanout = true))(body)

  test("default mode (auto) with no request leaves the scan untouched") {
    val s = spark.newSession()
    s.conf.set("graft.scan.fanout.minBytes", "1")
    assert(Tables.documents(s, SparkSpec.Sf0001).rdd.getNumPartitions == 1,
      "un-requested scan must stay a bare single-split read (r16: the " +
        "blanket exchange regressed 179/314 queries)")
  }

  test("below the byte floor the scan is untouched even when requested") {
    val s = spark.newSession()
    // sf0.001 documents is ~64 KiB < the 256 KiB default floor
    val df = fanoutHinted(Tables.documents(s, SparkSpec.Sf0001))
    assert(df.rdd.getNumPartitions == 1,
      "sub-floor scan must stay a bare single-split read")
  }

  test("requested + above the floor with fewer splits than cores, the " +
      "scan fans out to defaultParallelism and contents are identical") {
    val s = spark.newSession()
    s.conf.set("graft.scan.fanout.minBytes", "1")
    val fanned = fanoutHinted(Tables.documents(s, SparkSpec.Sf0001))
    assert(fanned.rdd.getNumPartitions ==
      s.sparkContext.defaultParallelism,
      "low-split scan must widen to the core count")
    val s2 = spark.newSession()
    s2.conf.set("graft.scan.fanout", "false")
    val plain = Tables.documents(s2, SparkSpec.Sf0001)
    val a = fanned.orderBy(col("doc_id")).collect().toSeq
    val b = plain.orderBy(col("doc_id")).collect().toSeq
    assert(a == b, "fan-out must not change table contents")
  }

  test("fan-out assignment is deterministic across runs (retry safety)") {
    val s = spark.newSession()
    s.conf.set("graft.scan.fanout.minBytes", "1")
    def perPartition(): Seq[(Int, Seq[Long])] =
      fanoutHinted(Tables.documents(s, SparkSpec.Sf0001))
        .select(col("doc_id")).rdd
        .mapPartitionsWithIndex { case (i, it) =>
          Iterator((i, it.map(_.getLong(0)).toSeq.sorted))
        }.collect().toSeq.sortBy(_._1)
    assert(perPartition() == perPartition(),
      "round-robin fan-out must give the same row->partition map")
  }

  test("graft.scan.fanout=false is a kill switch that beats a request") {
    val s = spark.newSession()
    s.conf.set("graft.scan.fanout", "false")
    s.conf.set("graft.scan.fanout.minBytes", "1")
    val df = fanoutHinted(Tables.documents(s, SparkSpec.Sf0001))
    assert(df.rdd.getNumPartitions == 1)
  }

  test("graft.scan.fanout=true forces the rewrite without a request (A/B aid)") {
    val s = spark.newSession()
    s.conf.set("graft.scan.fanout", "true")
    s.conf.set("graft.scan.fanout.minBytes", "1")
    assert(Tables.documents(s, SparkSpec.Sf0001).rdd.getNumPartitions ==
      s.sparkContext.defaultParallelism)
  }

  test("mid-size inputs Spark already splits wide are left alone " +
      "(ADVICE r16: estimate must replicate FilePartition.maxSplitBytes)") {
    val s = spark.newSession()
    s.conf.set("graft.scan.fanout.minBytes", "1")
    // With openCostInBytes lowered, Spark splits even the tiny fixture
    // core-count wide (maxSplitBytes = max(openCost, bytes/cores));
    // the estimator must see that and skip the exchange.
    s.conf.set("spark.sql.files.openCostInBytes", "1")
    val df = fanoutHinted(Tables.documents(s, SparkSpec.Sf0001))
    assert(df.rdd.getNumPartitions >= s.sparkContext.defaultParallelism)
    assert(!df.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning"),
      "already-wide scan must not pay a round-robin exchange")
  }

  test("many small files, which Spark already reads core-count wide, are " +
      "left alone (openCostInBytes is charged per file)") {
    val s = spark.newSession()
    s.conf.set("graft.scan.fanout.minBytes", "1")
    val dir = java.nio.file.Files.createTempDirectory("fanout-files").toString
    try {
      val n = 2 * s.sparkContext.defaultParallelism
      Tables.documents(s, SparkSpec.Sf0001).repartition(n)
        .write.parquet(s"$dir/documents.parquet")
      val df = fanoutHinted(Tables.table(s, dir, "documents"))
      assert(df.rdd.getNumPartitions >= s.sparkContext.defaultParallelism)
      assert(!df.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning"),
        "a multi-file scan Spark already splits wide must not pay a round-robin exchange")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a malformed graft.scan.fanout or graft.scan.fanout.minBytes fails naming the key") {
    val s = spark.newSession()
    s.conf.set("graft.scan.fanout", "ture")
    val mode = intercept[IllegalArgumentException](
      Tables.documents(s, SparkSpec.Sf0001))
    assert(mode.getMessage.contains("graft.scan.fanout"))
    s.conf.set("graft.scan.fanout", "auto")
    s.conf.set("graft.scan.fanout.minBytes", "256k")
    val floor = intercept[IllegalArgumentException](
      fanoutHinted(Tables.documents(s, SparkSpec.Sf0001)))
    assert(floor.getMessage.contains("graft.scan.fanout.minBytes"))
  }
}
