package graft

import org.apache.spark.sql.functions.{lit, to_timestamp}

/** Contract checks over the whole query registry (driver-facing surface). */
class QueriesSpec extends SparkSpec {

  test("every query has oracle SQL — including the approximate ops") {
    // even approximate aggregates carry an oracle: ev_sketch emits exact
    // counts plus bounded-error booleans the oracle asserts true
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registry query executes on sf0.001") {
    val emptyOk = Set("dedup_jaccard", "dedup_embedding", "dedup_minhash",
      "q5_anti_join", "dedup_exact")
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val n = fn(spark, SparkSpec.Sf0001).count()
        if (n == 0 && !emptyOk(name)) Some(s"$name: 0 rows") else None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(100)}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("ev_sketch keeps a NULL event_type group, as the oracle's GROUP BY does") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ev_null").toFile
    try {
      // 40 typed events over users 0..6, plus 5 NULL-type events by users
      // 1, 1, 2, 3, 3 -> the NULL group has n = 5 and exact_users = 3
      val typed = Seq.tabulate(40)(i =>
        (i.toLong, i.toLong % 7, if (i % 2 == 0) "click" else "view", i.toDouble))
      val untyped = Seq(1L, 1L, 2L, 3L, 3L).zipWithIndex.map { case (u, i) =>
        (100L + i, u, null: String, i.toDouble) }
      (typed ++ untyped).toDF("event_id", "user_id", "event_type", "value")
        .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
        .withColumn("props", lit("{}"))
        .write.parquet(s"${dir.getPath}/events.parquet")
      val out = SparkEntry.queries("ev_sketch")(spark, dir.getPath).collect()
      assert(out.length == 3, out.mkString("; "))
      val nullGroup = out.filter(_.isNullAt(0))
      assert(nullGroup.length == 1, out.mkString("; "))
      assert(nullGroup.head.getAs[Long]("n") == 5L)
      assert(nullGroup.head.getAs[Long]("exact_users") == 3L)
      assert(out.filterNot(_.isNullAt(0)).map(_.getAs[Long]("n")).sum == 40L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("query docs exist for SURVEY traceability") {
    assert(SparkEntry.registry.forall(_.doc.nonEmpty))
  }
}
