package graft.pipelines

import graft.SparkSpec
import graft.core.{BatchLedger, QueryMetrics, Tables, Watchdog}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  test("DxGroup.run: end-to-end schema, row preservation, batch stamping") {
    val docs = Tables.documents(spark, graft.SparkSpec.Sf0001)
    val out = DxGroup.run(spark, docs, batchId = 42L)
    assert(out.columns.toSeq == Seq("batchid", "msgid", "predicted_label_id",
      "model_score", "model_id", "predicted_label"))
    val rows = out.agg(count(lit(1)), countDistinct($"msgid"),
      min($"batchid"), max($"batchid")).collect()(0)
    assert(rows.getLong(0) == docs.count())  // label join preserves rows
    assert(rows.getLong(1) == rows.getLong(0))
    assert(rows.getLong(2) == 42L && rows.getLong(3) == 42L)
    val labelRange = out.agg(min($"predicted_label_id"), max($"predicted_label_id")).collect()(0)
    assert(labelRange.getLong(0) >= 0 && labelRange.getLong(1) <= 15)
  }

  test("pretrain_pipeline reliable barriers: checkpoint-to-dir path " +
      "produces the exact same rows as the localCheckpoint default") {
    import graft.ops.Curation
    def run() = graft.SparkEntry.queries("pretrain_pipeline")(
      spark, graft.SparkSpec.Sf0001).collect().map(_.toSeq).toSeq
    val local = run()
    // a zero-byte threshold promotes every barrier to a reliable checkpoint
    spark.conf.set(Curation.BarrierReliableBytesKey, "0")
    try {
      val reliable = run()
      assert(reliable == local,
        "reliable-checkpoint barriers must not change the result")
      // the reliable path actually wrote through the checkpoint dir
      assert(spark.sparkContext.getCheckpointDir.isDefined,
        "reliable barriers must have set a checkpoint dir")
    } finally spark.conf.unset(Curation.BarrierReliableBytesKey)
  }

  test("stageBarrier size-adaptive mode: a sub-threshold barrier stays " +
      "local (no reliable-checkpoint write); under a forced-low " +
      "threshold the SAME barrier auto-promotes to a reliable " +
      "checkpoint with identical rows and releases its local blocks") {
    import graft.ops.Curation
    val sc = spark.sparkContext
    val df = Tables.documents(spark, graft.SparkSpec.Sf0001)
      .select($"doc_id", $"source")
    def ckFiles(): Int = sc.getCheckpointDir.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(sc.hadoopConfiguration)
      if (fs.exists(p)) fs.listStatus(p).length else 0
    }.getOrElse(0)
    // default threshold (64 GiB): the sf0.001 barrier is tiny -> local
    val filesBefore = ckFiles()
    val local = Curation.stageBarrier(df)
    val localRows = local.collect().map(_.toSeq).sortBy(_.head.toString)
    assert(ckFiles() == filesBefore,
      "a sub-threshold barrier must not write a reliable checkpoint")
    // forced-low threshold: the measured localCheckpoint bytes exceed 1,
    // so the barrier promotes — checkpoint dir gains a unit, rows are
    // bit-identical, and the redundant local copy is unpersisted
    spark.conf.set(Curation.BarrierReliableBytesKey, "1")
    try {
      val idsBefore = sc.getPersistentRDDs.keySet
      val promoted = Curation.stageBarrier(df)
      assert(ckFiles() > filesBefore,
        "an over-threshold barrier must write through the checkpoint dir")
      assert(promoted.collect().map(_.toSeq).sortBy(_.head.toString)
          .toSeq == localRows.toSeq,
        "promotion must not change the barrier's rows")
      val leaked = sc.getPersistentRDDs.keySet.diff(idsBefore)
      assert(leaked.isEmpty,
        s"promotion must release the interim local blocks, leaked: $leaked")
    } finally spark.conf.unset(Curation.BarrierReliableBytesKey)
  }

  test("DxGroup stage composition matches staged execution (no hidden state)") {
    val docs = Seq((1L, "GROSS DESCRIPTION: Short Specimen MICROSCOPIC: cells"))
      .toDF("doc_id", "text")
    val cleaned = DxGroup.clean(docs, 5L)
    assert(cleaned.columns.toSeq == Seq("batch_id", "msgid", "msg"))
    val preped = DxGroup.prep(cleaned)
    val r = preped.collect()(0)
    // cleanMsg lowercases, so the uppercase clinical headers don't match:
    // whole text falls through as 'entire report'
    assert(r.getAs[String]("part_of_report") == "entire report")
  }

  test("Prostate.run: 19-column fan-in, one row per doc, constants applied") {
    val docs = Tables.documents(spark, graft.SparkSpec.Sf0001).limit(50)
    val out = Prostate.run(spark, docs,
      questions = graft.ops.Inference.fixtureQuestions)
    assert(out.columns.length == 19)
    assert(out.count() == 50)
    val r = out.select("site_code", "behaviour_code", "laterality").distinct().collect()
    assert(r.toSeq.map(x => (x.getString(0), x.getString(1), x.getString(2))) ==
      Seq(("C61.9", "3", "00")))
  }

  test("BatchLedger allocates sequential ids and records history") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ledger").toString
    val ledger = new BatchLedger(spark, s"$dir/ledger")
    val id1 = ledger.newBatch("p", "20220101", "20230101", "c1")
    val id2 = ledger.newBatch("p", "20220101", "20230101", "c2")
    assert(id1 == 1L && id2 == 2L)
    assert(ledger.history.count() == 2)
    assert(BatchLedger.stamp(Seq(1).toDF("x"), id2).select("batch_id")
      .as[Long].first() == 2L)
  }

  private def ledgerDir(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/ledger"

  test("BatchLedger allocates and builds its history without a Spark job") {
    val sc = spark.sparkContext
    val metrics = QueryMetrics.register(sc)
    try {
      var history: org.apache.spark.sql.DataFrame = null
      val err = Watchdog.run(sc, "ledger-no-jobs", timeoutS = 60) {
        val ledger = new BatchLedger(spark, ledgerDir("graft_ledger_j"))
        (1 to 3).foreach(i => ledger.newBatch("p", "20220101", "20230101", s"c$i"))
        history = ledger.history
      }
      assert(err.isEmpty, err)
      val jobs = metrics.take("ledger-no-jobs").jobs
      assert(jobs == 0, s"$jobs Spark jobs in newBatch/history")
      assert(history.schema == StructType(StructField("batch_id", LongType) +:
        Seq("pipeline_name", "date_from", "date_to", "comment")
          .map(StructField(_, StringType))))
    } finally sc.removeSparkListener(metrics)
  }

  test("BatchLedger gives 8 concurrent allocators distinct, dense ids") {
    val path = ledgerDir("graft_ledger_t")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = {
            val ledger = new BatchLedger(spark, path)
            (1 to 25).map(i => ledger.newBatch("p", "20220101", "20230101", s"t$t-$i"))
          }
        })
      }
      val ids = futures.flatMap(_.get())
      assert(ids.sorted == (1L to 200L))
      assert(new BatchLedger(spark, path).history.count() == 200)
    } finally pool.shutdown()
  }

  test("BatchLedger keeps the id of an empty marker left by a crash") {
    val path = ledgerDir("graft_ledger_e")
    val ledger = new BatchLedger(spark, path)
    (1 to 2).foreach(i => ledger.newBatch("p", "20220101", "20230101", s"c$i"))
    // a crash between creating a marker and writing its row
    java.nio.file.Files.createFile(java.nio.file.Paths.get(path, "batch_3"))
    assert(ledger.newBatch("p", "20220101", "20230101", "c4") == 4L)
    val rows = ledger.history.as[(Long, String, String, String, String)].collect()
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows(2) == ((3L, null, null, null, null)))
    assert(rows(3)._5 == "c4")
  }

  test("BatchLedger round-trips newlines, tabs and non-ASCII text") {
    val ledger = new BatchLedger(spark, ledgerDir("graft_ledger_u"))
    val comment = "line one\nline two\tcol — Zürich 日本語 \uD83D\uDE00 \"q\" \\"
    val id = ledger.newBatch("DX Group\t", "", "2023-01-01", comment)
    assert(ledger.history.as[(Long, String, String, String, String)]
      .collect().toSeq == Seq((id, "DX Group\t", "", "2023-01-01", comment)))
  }

  test("BatchLedger refuses a parquet ledger of the earlier format") {
    val path = ledgerDir("graft_ledger_l")
    Seq((1L, "p", "20220101", "20230101", "c1"))
      .toDF("batch_id", "pipeline_name", "date_from", "date_to", "comment")
      .write.parquet(path)
    val ledger = new BatchLedger(spark, path)
    val e = intercept[IllegalStateException](
      ledger.newBatch("p", "20220101", "20230101", "c2"))
    assert(e.getMessage.contains(path))
  }
}
