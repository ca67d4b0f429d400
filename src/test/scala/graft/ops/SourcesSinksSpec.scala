package graft.ops

import graft.SparkSpec
import graft.core.Tables
import graft.sources.ApiSource
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class SourcesSinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("CSV round-trip with the reference's options: latin-1, empty-as-null (S1/K3)") {
    val dir = tmp("graft_csv") + "/out"
    val schema = StructType(Seq(
      StructField("msgid", LongType), StructField("message", StringType)))
    val df = Seq((1L, "café report"), (2L, null.asInstanceOf[String]))
      .toDF("msgid", "message")
    Sinks.csv(df, dir, singleFile = true, encoding = "ISO-8859-1")
    val back = Tables.csv(spark, dir, schema).orderBy("msgid").collect()
    assert(back(0).getString(1) == "café report")
    assert(back(1).isNullAt(1)) // empty string read back as null
  }

  test("ORC round-trip preserves schema and values") {
    val dir = tmp("graft_orc") + "/out"
    val df = Seq((1L, "alpha", 1.5), (2L, null.asInstanceOf[String], -0.25))
      .toDF("id", "name", "score")
    Sinks.orc(df, dir)
    val back = Tables.orc(spark, dir).orderBy("id")
    // ORC reads widen nullability (file-level metadata has no NOT NULL);
    // names and types must survive exactly
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    val rows = back.collect()
    assert(rows(0).getString(1) == "alpha" && rows(0).getDouble(2) == 1.5)
    assert(rows(1).isNullAt(1) && rows(1).getDouble(2) == -0.25)
  }

  test("apiSink batches partitions through the pluggable transport (K4)") {
    // task closures are serialized even in local mode: observe via accumulator
    val calls = spark.sparkContext.collectionAccumulator[Int]("api_calls")
    Sinks.apiSink(Seq.tabulate(10)(i => (i, s"m$i")).toDF("id", "m")
      .coalesce(1), "http://api", batchSize = 4) {
      (_, lines) => calls.add(lines.size); ()
    }
    val sizes = new scala.collection.mutable.ArrayBuffer[Int]()
    calls.value.forEach(s => sizes += s)
    assert(sizes.sorted.toSeq == Seq(2, 4, 4)) // 10 rows -> 4 + 4 + 2
  }

  test("ApiSource.fetch and fetchPartitioned with a fake transport (S5)") {
    val schema = StructType(Seq(
      StructField("msgid", LongType), StructField("message", StringType)))
    val fake: ApiSource.Transport = (_, from, _, _) =>
      Seq(Row(from.replace("-", "").toLong, s"msg for $from"))
    val one = ApiSource.fetch(spark, schema, "u", "2022-01-01", "2022-01-02", "t")(fake)
    assert(one.count() == 1)
    val windows = Seq(("2022-01-01", "2022-01-02"), ("2022-01-02", "2022-01-03"),
      ("2022-01-03", "2022-01-04"))
    val part = ApiSource.fetchPartitioned(spark, schema, "u", windows, "t")(fake)
    assert(part.count() == 3)
    assert(part.select("msgid").as[Long].collect().toSet ==
      Set(20220101L, 20220102L, 20220103L))
  }

  test("parquet checkpoint round-trip") {
    val dir = tmp("graft_pq") + "/out"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Sinks.parquet(df, dir)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("partitioned layout prunes directories on partition filters") {
    val dir = tmp("graft_part") + "/out"
    val df = Seq((1L, "en", "x"), (2L, "fr", "y"), (3L, "en", "z"))
      .toDF("id", "lang", "v")
    Sinks.parquetPartitioned(df, dir, Seq("lang"))
    assert(new java.io.File(dir).list().exists(_.startsWith("lang=en")))
    val back = spark.read.parquet(dir).filter($"lang" === "en")
    assert(back.count() == 2)
    // the scan's file listing is restricted to the lang=en directory
    val p = back.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(lang"))
  }

  test("bucketed table: join on the bucket key plans without a shuffle") {
    // warehouse dir is set (statically) in build.sbt's Test / javaOptions;
    // clear any leftover table + orphaned location from prior runs
    Seq("graft_bucketed_a", "graft_bucketed_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"/root/repo/target/test-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    val df = Seq.tabulate(100)(i => (i.toLong, s"v$i")).toDF("k", "v")
    Sinks.bucketedTable(df, "graft_bucketed_a", 4, Seq("k"))
    Sinks.bucketedTable(df, "graft_bucketed_b", 4, Seq("k"))
    // force the shuffle-join path (tiny tables would broadcast otherwise)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_bucketed_a")
        .join(spark.table("graft_bucketed_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == 100)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
