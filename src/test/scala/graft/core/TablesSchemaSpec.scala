package graft.core

import graft.SparkSpec
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

class TablesSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  private def qualified(p: String): String = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(hp).toString
  }

  private def checksum(df: DataFrame): Any =
    df.agg(bit_xor(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)))).head().get(0)

  /** The jobs `body` starts, each one a build job. */
  private def buildJobs(name: String)(body: => Unit): (Long, Long) = {
    val m = QueryMetrics.register(spark.sparkContext)
    try {
      assert(Watchdog.run(spark.sparkContext, name, timeoutS = 120) {
        m.building(body)
      }.isEmpty)
      val r = m.take(name)
      (r.jobs, r.buildJobs)
    } finally spark.sparkContext.removeSparkListener(m)
  }

  private def rootMessage(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a second open of a fixture table builds with no job and reads " +
      "what a plain spark.read.parquet reads") {
    val dir = tmp("graft_memo_fixture")
    Files.copy(Paths.get(SparkSpec.Sf0001, "lineitem.parquet"),
      dir.resolve("lineitem.parquet"))
    val (firstJobs, firstBuild) =
      buildJobs("memo-first") { Tables.lineitem(spark, dir.toString) }
    assert(firstBuild >= 1 && firstJobs == firstBuild,
      s"the first open infers the schema in a job: $firstJobs/$firstBuild")
    var second: DataFrame = null
    val (jobs, build) =
      buildJobs("memo-second") { second = Tables.lineitem(spark, dir.toString) }
    assert(jobs == 0 && build == 0, s"second open ran $jobs jobs")
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
    assert(second.schema == plain.schema)
    assert(checksum(second) == checksum(plain))
    assert(Tables.memoKeys(spark, dir.toString) ==
      Seq(qualified(s"$dir/lineitem.parquet")))
  }

  test("a part file added with an extra column, or a file rewritten in " +
      "place, misses the memo and serves the new schema") {
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val dir = tmp("graft_memo_add").resolve("t").toString
      Seq((1L, "a")).toDF("id", "s").coalesce(1).write.parquet(dir)
      assert(Tables.parquet(spark, dir).columns.toSeq == Seq("id", "s"))
      Seq((2L, "b", 2.5)).toDF("id", "s", "x").coalesce(1)
        .write.mode("append").parquet(dir)
      var added: DataFrame = null
      val (_, build) = buildJobs("memo-added") { added = Tables.parquet(spark, dir) }
      assert(build >= 1, "an added file must re-infer")
      assert(added.schema == spark.read.parquet(dir).schema)
      assert(added.columns.toSet == Set("id", "s", "x"))
      assert(added.count() == 2)
    }
    // the same file name rewritten with another column set
    val dir = tmp("graft_memo_rewrite")
    val file = dir.resolve("one.parquet")
    def writeOne(df: DataFrame): Unit = {
      val staged = tmp("graft_memo_stage").resolve("o").toString
      df.coalesce(1).write.parquet(staged)
      val part = Files.list(Paths.get(staged)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, file, StandardCopyOption.REPLACE_EXISTING)
    }
    writeOne(Seq((1L, "a")).toDF("id", "s"))
    assert(Tables.parquet(spark, file.toString).columns.toSeq == Seq("id", "s"))
    writeOne(Seq((1L, 7, 0.5)).toDF("id", "n", "x"))
    val rewritten = Tables.parquet(spark, file.toString)
    assert(rewritten.schema == spark.read.parquet(file.toString).schema)
    assert(rewritten.columns.toSeq == Seq("id", "n", "x"))
    assert(rewritten.as[(Long, Int, Double)].collect().toSeq == Seq((1L, 7, 0.5)))
  }

  test("flipping an inference conf misses the memo: Tables.events' ts " +
      "follows nanosAsLong and inferTimestampNTZ") {
    // a TIMESTAMP(NANOS) events file, as some data generations store it
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("graft_memo_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    val raw = s"$dir/events.parquet"
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(Tables.parquet(spark, raw).schema("ts").dataType == LongType)
    val ev = Tables.events(spark, dir.toString)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.select(unix_micros(col("ts"))).as[Long].head() == 1700000000123456L)
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      // Spark rejects a nanosecond column without the flag (in the
      // inference job); a stale LongType schema would have read it
      val plain = intercept[Exception](spark.read.parquet(raw))
      val memo = intercept[Exception](Tables.events(spark, dir.toString))
      assert(rootMessage(memo) == rootMessage(plain))
      assert(rootMessage(memo).contains("TIMESTAMP(NANOS"), rootMessage(memo))
    }
    assert(Tables.parquet(spark, raw).schema("ts").dataType == LongType)

    // the fixture's naive TIMESTAMP(MICROS): NTZ, or LTZ without inference
    val fixture = s"${SparkSpec.Sf0001}/events.parquet"
    assert(Tables.parquet(spark, fixture).schema("ts").dataType == TimestampNTZType)
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false") {
      assert(Tables.parquet(spark, fixture).schema ==
        spark.read.parquet(fixture).schema)
      assert(Tables.parquet(spark, fixture).schema("ts").dataType == TimestampType)
      assert(Tables.events(spark, SparkSpec.Sf0001).schema("ts").dataType ==
        TimestampType)
    }
    assert(Tables.parquet(spark, fixture).schema("ts").dataType == TimestampNTZType)
    assert(Tables.memoKeys(spark, fixture) == Seq(qualified(fixture)))
  }

  test("a partitioned IndexCommits store serves what a plain read serves " +
      "after write, append, delete and compact, with one memo entry per path") {
    val path = tmp("graft_memo_store").resolve("s").toString
    val store = IndexCommits.Store(spark, path,
      Seq(IndexCommits.Part("data", partitionBy = Some("band"))))
    def plain(): DataFrame = {
      val st = store.snapshot()
      val base = spark.read.parquet(s"$path/data").filter(col("batch").isin(st.batches: _*))
      if (st.deletes.isEmpty) base
      else base.join(spark.read.parquet(s"$path/tombstones")
        .filter(col("batch").isin(st.deletes: _*)).select("id"), Seq("id"), "left_anti")
    }
    def same(step: String): Unit = {
      val served = store.served(idCol = Some("id"))
      val want = plain()
      assert(served.schema == want.schema, s"$step: ${served.schema} vs ${want.schema}")
      assert(served.orderBy("id", "batch").collect().toSeq ==
        want.orderBy("id", "batch").collect().toSeq, step)
    }
    val rows = (1L to 6L).map(i => (i, (i % 2).toInt, i * 0.5))
    store.write(0L, rows.take(4).toDF("id", "band", "x"))
    same("write")
    store.write(1L, rows.drop(4).toDF("id", "band", "x"))
    same("append")
    store.delete(2L, Seq(3L, 5L).toDF("id"))
    same("delete")
    // an id beyond Int range widens the inferred `batch` type to long
    store.compact(3000000000L) { st =>
      Seq(store.served(st, idCol = Some("id")).drop("batch"))
    }
    same("compact")
    val served = store.served(idCol = Some("id"))
    assert(served.columns.toSeq == Seq("id", "x", "batch", "band"))
    assert(served.schema("batch").dataType == LongType &&
      served.schema("band").dataType == IntegerType)
    assert(served.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L, 6L))
    // one entry per opened path, whatever the number of versions
    assert(Tables.memoKeys(spark, path) ==
      Seq(qualified(s"$path/data"), qualified(s"$path/tombstones")))
  }

  test("a missing or empty path fails as Spark fails it and leaves no entry") {
    val missing = tmp("graft_memo_missing").resolve("absent").toString
    val plain = intercept[AnalysisException](spark.read.parquet(missing))
    val memo = intercept[AnalysisException](Tables.parquet(spark, missing))
    assert(memo.getMessage == plain.getMessage)
    val empty = tmp("graft_memo_empty").toString
    val plainEmpty = intercept[AnalysisException](spark.read.parquet(empty))
    val memoEmpty = intercept[AnalysisException](Tables.parquet(spark, empty))
    assert(memoEmpty.getMessage == plainEmpty.getMessage)
    assert(Tables.memoKeys(spark, missing).isEmpty && Tables.memoKeys(spark, empty).isEmpty)
  }

  test("read.parquet( appears in src/main only in Tables.scala") {
    // split so this file does not match its own search
    val pattern = "read" + ".parquet("
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    val (home, others) = sources.partition(_.getFileName.toString == "Tables.scala")
    assert(home.nonEmpty && home.forall(p => Files.readString(p).contains(pattern)),
      "the guard must see the parquet open in Tables.scala itself")
    val offenders = others.filter(p => Files.readString(p).contains(pattern))
    assert(offenders.isEmpty, "parquet opened outside Tables.parquet: " +
      offenders.mkString("; "))
  }
}
