package graft.ops

import graft.SparkSpec
import graft.functions.VectorOps
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("DotProduct expression: correct value, float/double inputs, null safe") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(3.0, 4.0))).toDF("a", "b")
    val v = df.select(VectorOps.dot($"a", $"b")).as[Double].first()
    assert(v == 1.0 * 3.0 + 2.0 * 4.0)
    val withNull = Seq((Some(Seq(1.0f)), Option.empty[Seq[Double]]))
      .toDF("a", "b")
    assert(withNull.select(VectorOps.dot($"a", $"b")).collect()(0).isNullAt(0))
  }

  test("DotProduct matches interpreted eval with codegen disabled") {
    val df = Seq((Seq(0.5f, -1.5f, 2.0f), Seq(1.0f, 1.0f, 1.0f))).toDF("a", "b")
    val expected = 0.5 - 1.5 + 2.0
    assert(df.select(VectorOps.dot($"a", $"b")).as[Double].first() == expected)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(df.select(VectorOps.dot($"a", $"b")).as[Double].first() == expected)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("bruteForceTopK on the fixture: the query vector ranks itself first") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5).collect()
    assert(top(0).getAs[Long]("vec_id") == 0L)
    assert(math.abs(top(0).getAs[Double]("cos_sim") - 1.0) < 1e-9)
    val sims = top.map(_.getAs[Double]("cos_sim")).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("ivfTopK with nprobe=all equals brute force exactly") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 3L)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", "label", q, 10, nprobe = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivf == brute)
  }

  test("ivfTopK nprobe=3 recall vs brute force is sane on the fixture") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", "label", q, 10, 3)
      .collect().map(_.getLong(0)).toSet
    assert((brute intersect ivf).size >= 3, s"recall too low: $brute vs $ivf")
  }

  test("quantCodes stay in [-127,127]; intDot is exact on known values") {
    val df = Seq((Seq(1.0f, -2.0f, 0.5f), Seq(3L, -1L, 2L), Seq(1L, 1L, 1L)))
      .toDF("v", "a", "b")
    val staged = df.withColumn("s", Similarity.quantScale($"v"))
      .withColumn("q", Similarity.quantCodes($"v", $"s"))
    val codes = staged.select($"q").as[Seq[Long]].first()
    assert(codes == Seq(64L, -127L, 32L)) // scale = 2/127
    assert(codes.forall(c => c >= -127 && c <= 127))
    assert(df.select(Similarity.intDot($"a", $"b")).as[Long].first() == 4L)
  }

  test("quantTopK: query ranks itself first; high recall vs brute force") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val quant = Similarity.quantTopK(emb, "vec_id", "embedding", 0L, 10, rescore = 50)
      .collect()
    assert(quant(0).getAs[Long]("vec_id") == 0L)
    assert(math.abs(quant(0).getAs[Double]("cos_sim") - 1.0) < 1e-9)
    val ids = quant.map(_.getAs[Long]("vec_id")).toSet
    // int8 + rescore-50 should recover nearly all of the exact top-10
    assert((brute intersect ids).size >= 8, s"recall too low: $brute vs $ids")
  }

  test("centroids: cluster of identical vectors reproduces the vector") {
    val df = Seq((1L, Seq(1.0f, 3.0f), 0), (2L, Seq(1.0f, 3.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val c = Similarity.centroids(df, "label", "embedding")
      .select("centroid").as[Seq[Double]].first()
    assert(c == Seq(1.0, 3.0))
  }

  test("kmeans converges to the obvious clusters on a separable fixture") {
    // two tight groups far apart; seeds (min ids 1,2) start one per group
    val df = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(10.0f, 10.0f)),
      (3L, Seq(0.5f, 0.0f)), (4L, Seq(10.0f, 10.5f)),
      (5L, Seq(0.0f, 0.5f)), (6L, Seq(9.5f, 10.0f)))
      .toDF("vec_id", "embedding")
    val assigned = Similarity.kmeansAssign(df, "vec_id", "embedding",
        k = 2, iters = 2, outCol = "c")
      .select("vec_id", "c").as[(Long, Int)].collect().toMap
    assert(Set(1L, 3L, 5L).map(assigned) == Set(0))
    assert(Set(2L, 4L, 6L).map(assigned) == Set(1))
    // and the trained centroids are the exact group means
    val cents = Similarity.kmeansCentroids(df, "vec_id", "embedding", 2, 2)
    assert(cents(0).map(v => math.rint(v * 6) / 6) ==
      Seq(0.5 / 3, 0.5 / 3).map(v => math.rint(v * 6) / 6))
  }

  test("kmeans: an emptied cluster carries its centroid forward") {
    // seeds are ids 1,2 — both inside the same tight group, so after one
    // assignment every row lands on one of them and the other may empty;
    // with all points identical, cluster 1 empties (ties go to cluster 0)
    val df = Seq(
      (1L, Seq(1.0f, 1.0f)), (2L, Seq(1.0f, 1.0f)), (3L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(df, "vec_id", "embedding",
      k = 2, iters = 3)
    assert(cents.size == 2)
    assert(cents(0) == Seq(1.0, 1.0))
    assert(cents(1) == Seq(1.0, 1.0)) // carried-forward seed, not NaN/empty
  }

  test("kmeansAssign is deterministic across runs") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    def run() = Similarity.kmeansAssign(emb, "vec_id", "embedding", 4, 2)
      .select("vec_id", "kmeans_cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(run() == run())
  }

  test("ivfWriteLayout + ivfProbeLayout: partition pruning at the scan, parity with trained IVF") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_layout")
      .toString + "/emb"
    val cents = Similarity.ivfWriteLayout(emb, "vec_id", "embedding", dir,
      kClusters = 4, iters = 2)
    assert(cents.size == 4)
    // one directory per cluster on disk, under the build's batch=0
    val dirs = new java.io.File(dir + "/data/batch=0").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ivf_cluster="))
    assert(dirs.length == 4, s"expected 4 partition dirs, got ${dirs.toSeq}")

    val probe = Similarity.ivfProbeLayout(spark, dir, q, k = 10, nprobe = 2)
    val got = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the scan opened exactly the nprobe shortlisted partitions
    val selected = org.apache.spark.sql.graft.Shims
      .scanSelectedPartitionCount(probe.queryExecution.executedPlan)
    assert(selected.contains(2), s"expected 2 pruned partitions, got $selected")
    // same answer as the in-memory trained probe (same k-means params)
    val trained = Similarity.ivfTrainedTopK(emb, "vec_id", "embedding", q,
        k = 10, nprobe = 2, kClusters = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == trained)
  }

  test("filtered ANN: predicate pre-restricts candidates (full probe == " +
      "brute force over the filtered corpus); the layout probe composes " +
      "partition pruning with a pushed label filter in one scan") {
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // nprobe = kClusters: the filter is the only restriction, so the
    // result must equal brute force over the pre-filtered corpus
    val full = rows(Similarity.ivfTrainedTopKFiltered(emb, "vec_id",
      "embedding", col("label") === 3, q, k = 5, nprobe = 4,
      kClusters = 4, iters = 2))
    val brute = rows(Similarity.bruteForceTopK(
      emb.filter(col("label") === 3), "vec_id", "embedding", q, k = 5))
    assert(full == brute)
    assert(full.nonEmpty)
    // and every survivor actually carries the filtered label
    val l3 = emb.filter(col("label") === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(full.forall { case (id, _) => l3.contains(id) })

    // at-rest layout: the SAME scan prunes to nprobe cluster dirs AND
    // pushes the label predicate into the parquet reader
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_filt")
      .toString + "/emb"
    Similarity.ivfWriteLayout(emb, "vec_id", "embedding", dir,
      kClusters = 4, iters = 2)
    val probe = Similarity.ivfProbeLayout(spark, dir, q, k = 5, nprobe = 2,
      pred = col("label") === 3)
    val got = rows(probe)
    val selected = org.apache.spark.sql.graft.Shims
      .scanSelectedPartitionCount(probe.queryExecution.executedPlan)
    assert(selected.contains(2), s"expected 2 pruned partitions, got $selected")
    val ptxt = probe.queryExecution.executedPlan.toString
    assert(ptxt.contains("PushedFilters") && ptxt.contains("EqualTo(label,3)"),
      s"label predicate not pushed to the layout scan:\n$ptxt")
    // parity with the in-memory filtered probe at the same params
    val mem = rows(Similarity.ivfTrainedTopKFiltered(emb, "vec_id",
      "embedding", col("label") === 3, q, k = 5, nprobe = 2,
      kClusters = 4, iters = 2))
    assert(got == mem)
  }

  test("ivfAppendLayout: appended batch becomes part of the served index; " +
      "a crashed (unmarked) batch is invisible; same-id retry heals") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val base = emb.filter($"vec_id" % 4 =!= 1)
    val rest = emb.filter($"vec_id" % 4 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_append")
      .toString + "/emb"
    Similarity.ivfWriteLayout(base, "vec_id", "embedding", dir,
      kClusters = 4, iters = 2)
    // probing EVERY cluster removes the approximation, so the served set
    // must equal exact brute force over whatever batches are committed
    def servedAll = Similarity.ivfProbeLayout(spark, dir, q, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def brute(d: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(d, "vec_id", "embedding", q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(servedAll == brute(base))
    Similarity.ivfAppendLayout(rest, "vec_id", "embedding", dir, batchId = 1L)
    assert(servedAll == brute(emb), "appended batch must serve")
    // crash simulation: batch data present but the commit marker missing
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir + "/commits/batch_1"), false)
    assert(servedAll == brute(base), "unmarked batch must not serve")
    // retry of the SAME batch id: rewrites its own subtree, re-marks
    Similarity.ivfAppendLayout(rest, "vec_id", "embedding", dir, batchId = 1L)
    assert(servedAll == brute(emb))
    // and a double retry stays idempotent (no duplicate rows: 10 distinct)
    Similarity.ivfAppendLayout(rest, "vec_id", "embedding", dir, batchId = 1L)
    assert(servedAll == brute(emb))
    // appends never retrain: centroids on disk are the batch-0 training
    assert(Similarity.readCentroids(spark, dir).size == 4)
  }

  test("IVF layout as-of time travel: each as-of point serves brute force " +
      "over the batches committed by then") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val base = emb.filter($"vec_id" % 4 =!= 1)
    val rest = emb.filter($"vec_id" % 4 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_asof")
      .toString + "/emb"
    Similarity.ivfWriteLayout(base, "vec_id", "embedding", dir,
      kClusters = 4, iters = 2)
    Similarity.ivfAppendLayout(rest, "vec_id", "embedding", dir, batchId = 1L)
    def served(asOf: Long) = Similarity.ivfProbeLayout(spark, dir, q,
        k = 10, nprobe = 4, asOf = asOf) // all clusters: no approximation
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def brute(d: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(d, "vec_id", "embedding", q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served(0L) == brute(base), "as-of batch 0 = the initial build")
    assert(served(1L) == brute(emb), "as-of batch 1 = after the append")
    assert(served(Long.MaxValue) == brute(emb))
  }

  test("IVFADC layout: serves bit-identically to the scan path; ADC scan " +
      "is vector-free and partition-pruned to nprobe") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfadc_spec")
      .toString + "/emb"
    Similarity.ivfAdcWriteLayout(emb, "vec_id", "embedding", dir,
      kCoarse = 4, coarseIters = 1, m = 4, k = 8, iters = 1, dims = 64)
    val probe = Similarity.ivfAdcProbeLayout(spark, dir, q, k = 10,
      nprobe = 2, rescore = 50)
    val scan = Similarity.ivfAdcTopK(emb, "vec_id", "embedding", q,
      nprobe = 2, kCoarse = 4, coarseIters = 1, m = 4, k = 8, iters = 1,
      dims = 64, rescore = 50, topK = 10)
    assert(probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      scan.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "at-rest serving must equal the scan path bit-for-bit")
    // plan pins: every scan in the probe selects only nprobe of the 4
    // cluster partitions, and the ADC stage's scan never reads the
    // embedding column (codes + id only — the bandwidth claim)
    val plan = probe.queryExecution.executedPlan.toString
    val schemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toList
    assert(schemas.exists(s => s.contains("pq_code") &&
      !s.contains("embedding")),
      s"ADC scan must not read vectors:\n$plan")
    val selected = org.apache.spark.sql.graft.Shims
      .scanSelectedPartitionCount(probe.queryExecution.executedPlan)
    assert(selected.nonEmpty && selected.forall(_ == 2),
      s"every scan must prune to nprobe partitions, got $selected:\n$plan")
  }

  test("ivfAdcAppendLayout: frozen-quantizer append serves like a union " +
      "build; crashed batch invisible; same-id retry heals; delete + " +
      "compact + vacuum parity via the shared markers") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val base = emb.filter($"vec_id" % 4 =!= 1)
    val rest = emb.filter($"vec_id" % 4 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfadc_append")
      .toString + "/emb"
    Similarity.ivfAdcWriteLayout(base, "vec_id", "embedding", dir,
      kCoarse = 4, coarseIters = 1, m = 4, k = 8, iters = 1, dims = 64)
    def served = Similarity.ivfAdcProbeLayout(spark, dir, q, k = 10,
        nprobe = 2, rescore = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val baseOnly = served
    Similarity.ivfAdcAppendLayout(rest, "vec_id", "embedding", dir,
      batchId = 1L)
    // the reference: a from-scratch layout over the union built with the
    // SAME frozen quantizers (read back from the appended layout) must
    // serve bit-identically — the FAISS add-path guarantee
    val coarse = Similarity.readCentroids(spark, dir)
    val books = Similarity.readCodebooks(spark, dir)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ivfadc_union")
      .toString + "/emb"
    Similarity.ivfAdcWriteLayout(emb, "vec_id", "embedding", dir2,
      kCoarse = 4, coarseIters = 1, m = 4, k = 8, iters = 1, dims = 64,
      trainedCoarse = Some(coarse), trainedBooks = Some(books))
    val union = Similarity.ivfAdcProbeLayout(spark, dir2, q, k = 10,
        nprobe = 2, rescore = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == union,
      "append + frozen quantizers must equal the from-scratch union build")
    // appends never retrain: the persisted pair is batch-0's training
    assert(coarse.size == 4 && books.size == 4)
    // crash: batch data durable but marker missing → invisible
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir + "/commits/batch_1"), false)
    assert(served == baseOnly, "unmarked ADC batch must not serve")
    // same-id retry rewrites exactly its own subtree; double retry no-ops
    Similarity.ivfAdcAppendLayout(rest, "vec_id", "embedding", dir,
      batchId = 1L)
    assert(served == union)
    Similarity.ivfAdcAppendLayout(rest, "vec_id", "embedding", dir,
      batchId = 1L)
    assert(served == union)
    // delete/compact/vacuum parity: ONE IndexCommits state machine, the
    // ADC rows (codes included) flow through the same writer
    Similarity.ivfDeleteLayout(Seq(0L).toDF("vec_id"), "vec_id", dir,
      batchId = 2L)
    val afterDel = served
    assert(afterDel.nonEmpty && !afterDel.exists(_._1 == 0L),
      "tombstoned id must not serve from the ADC layout")
    Similarity.ivfCompactLayout(spark, dir, "vec_id", newBatchId = 3L)
    assert(served == afterDel, "compacted ADC serve unchanged")
    assert(Similarity.ivfVacuumLayout(spark, dir) == 3)
    assert(served == afterDel, "post-vacuum ADC serve unchanged")
  }

  test("ivfCompactLayout on the ADC layout: the compacted batch PRESERVES " +
      "pq codes and coarse assignments byte-for-byte (nothing re-encoded), " +
      "a crash before the supersede rename keeps the old state served, and " +
      "the same-id retry heals") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfadc_cmp")
      .toString + "/emb"
    Similarity.ivfAdcWriteLayout(emb.filter($"vec_id" % 4 =!= 1),
      "vec_id", "embedding", dir,
      kCoarse = 4, coarseIters = 1, m = 4, k = 8, iters = 1, dims = 64)
    Similarity.ivfAdcAppendLayout(emb.filter($"vec_id" % 4 === 1),
      "vec_id", "embedding", dir, batchId = 1L)
    def served = Similarity.ivfAdcProbeLayout(spark, dir, q, k = 10,
        nprobe = 2, rescore = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val preDelete = served
    Similarity.ivfDeleteLayout(Seq(3L, 7L).toDF("vec_id"), "vec_id", dir,
      batchId = 2L)
    // (id -> (cluster, codes)) before compaction: the identity the fold
    // must carry — compaction moves rows, it never re-encodes them
    def codeMap = spark.read.parquet(dir + "/data")
      .filter(!$"vec_id".isin(3L, 7L))
      .select($"vec_id", $"ivf_cluster", $"pq_code")
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2).toList))
      .toMap
    val before = served
    val codesBefore = codeMap
    // crash: compaction data written, supersede marker rename not run
    Similarity.ivfCompactLayout(spark, dir, "vec_id", newBatchId = 3L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir + "/commits/compact_3"),
      false)
    assert(served == before, "uncommitted ADC compaction must be invisible")
    // retry heals; the single surviving batch serves identically
    Similarity.ivfCompactLayout(spark, dir, "vec_id", newBatchId = 3L)
    // TIME TRAVEL on the compressed layout (pre-vacuum): as-of batch 1
    // replays append-no-deletes; as-of 2 replays the tombstoned state
    def servedAsOf(ts: Long) = Similarity.ivfAdcProbeLayout(spark, dir, q,
        k = 10, nprobe = 2, rescore = 50, asOf = ts)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(servedAsOf(1L) == preDelete,
      "as-of 1 must replay the pre-delete index state exactly")
    assert(servedAsOf(2L) == before,
      "as-of 2 must replay the post-delete, pre-compaction state")
    assert(Similarity.ivfVacuumLayout(spark, dir) == 3)
    assert(served == before,
      "compaction + vacuum must not change what the ADC layout serves")
    // the compacted batch carries the schema AND the values: pq_code +
    // ivf_cluster columns present, every surviving row's codes identical
    val compacted = spark.read.parquet(dir + "/data/batch=3")
    assert(compacted.columns.contains("pq_code") &&
      compacted.columns.contains("embedding"),
      s"compacted ADC batch lost columns: ${compacted.columns.toSeq}")
    assert(codeMap == codesBefore,
      "compaction must preserve every row's coarse assignment and pq codes")
    assert(!codeMap.contains(3L) && !codeMap.contains(7L),
      "tombstoned rows must not survive compaction")
  }

  test("ivfWriteLayout/ivfAdcWriteLayout from injected trained quantizers " +
      "equal the in-builder-trained layouts") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    // plain IVF: trainedCents injection
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 4, 2)
    val d1 = java.nio.file.Files.createTempDirectory("graft_ivf_tr1")
      .toString + "/emb"
    val d2 = java.nio.file.Files.createTempDirectory("graft_ivf_tr2")
      .toString + "/emb"
    Similarity.ivfWriteLayout(emb, "vec_id", "embedding", d1,
      kClusters = 4, iters = 2)
    Similarity.ivfWriteLayout(emb, "vec_id", "embedding", d2,
      kClusters = 4, iters = 2, trainedCents = Some(cents))
    def probe(d: String) = Similarity.ivfProbeLayout(spark, d, q,
        k = 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe(d1) == probe(d2),
      "layout-from-trained must equal layout-from-scratch (same quantizer)")
    assert(Similarity.readCentroids(spark, d2) == cents.map(_.toSeq))
  }

  test("IVF lifecycle: tombstone delete serves brute-force-over-survivors; " +
      "crashed delete invisible; compaction + vacuum leave serving unchanged") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_lc")
      .toString + "/emb"
    Similarity.ivfWriteLayout(emb.filter($"vec_id" % 4 =!= 1), "vec_id",
      "embedding", dir, kClusters = 4, iters = 2)
    Similarity.ivfAppendLayout(emb.filter($"vec_id" % 4 === 1), "vec_id",
      "embedding", dir, batchId = 1L)
    def servedAll = Similarity.ivfProbeLayout(spark, dir, q, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def brute(d: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(d, "vec_id", "embedding", q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // delete a slice that includes top-ranked ids (vec 0 ranks itself
    // first, so the result MUST change) plus a nonexistent id
    val dead = Seq(0L, 2L, 99999L).toDF("vec_id")
    Similarity.ivfDeleteLayout(dead, "vec_id", dir, batchId = 2L)
    val survivors = emb.filter(!$"vec_id".isin(0L, 2L))
    assert(servedAll == brute(survivors),
      "a full-probe serve after delete must equal brute force over survivors")
    // crash: tombstones on disk, marker gone → delete invisible
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir + "/commits/del_2"), false)
    assert(servedAll == brute(emb), "unmarked tombstones must not serve")
    Similarity.ivfDeleteLayout(dead, "vec_id", dir, batchId = 2L) // retry heals
    assert(servedAll == brute(survivors))
    // compaction: crash before the marker rename keeps old state served
    Similarity.ivfCompactLayout(spark, dir, "vec_id", newBatchId = 3L)
    fs.delete(new org.apache.hadoop.fs.Path(dir + "/commits/compact_3"), false)
    assert(servedAll == brute(survivors), "uncommitted compaction invisible")
    Similarity.ivfCompactLayout(spark, dir, "vec_id", newBatchId = 3L)
    assert(servedAll == brute(survivors), "compacted serve unchanged")
    // vacuum sweeps exactly the superseded units (batches 0, 1, del 2)
    assert(Similarity.ivfVacuumLayout(spark, dir) == 3)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "/data/batch=0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "/tombstones/batch=2")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir + "/data/batch=3")))
    assert(servedAll == brute(survivors), "post-vacuum serve unchanged")
    assert(Similarity.ivfVacuumLayout(spark, dir) == 0)
    // centroids survive the whole lifecycle (the quantizer is identity)
    assert(Similarity.readCentroids(spark, dir).size == 4)
    // partition pruning still holds on the compacted layout
    val probe = Similarity.ivfProbeLayout(spark, dir, q, k = 5, nprobe = 2)
    probe.collect()
    val selected = org.apache.spark.sql.graft.Shims
      .scanSelectedPartitionCount(probe.queryExecution.executedPlan)
    assert(selected.contains(2),
      s"probe over the compacted layout must still prune to nprobe " +
        s"partitions, got $selected")
  }

  test("srpTopKMultiProbe: hamming 0 equals single-probe; hamming = nPlanes " +
      "equals brute force; recall is monotone in the radius") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val single = ids(Similarity.srpTopK(emb, "vec_id", "embedding", q, 10, 4))
    assert(ids(Similarity.srpTopKMultiProbe(emb, "vec_id", "embedding", q,
      10, nPlanes = 4, hamming = 0)) == single)
    val brute = ids(Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10))
    assert(ids(Similarity.srpTopKMultiProbe(emb, "vec_id", "embedding", q,
      10, nPlanes = 4, hamming = 4)) == brute)
    // wider radius never loses candidates: recall non-decreasing
    val exactIds = brute.map(_._1).toSet
    val recalls = Seq(0, 1, 2).map { h =>
      ids(Similarity.srpTopKMultiProbe(emb, "vec_id", "embedding", q,
        10, nPlanes = 4, hamming = h)).map(_._1).toSet
        .intersect(exactIds).size
    }
    assert(recalls == recalls.sorted, recalls.toString)
  }

  test("srpTopKMultiProbe enumerates the Hamming BALL, not the bucket " +
      "space: wide nPlanes stay cheap, and the probe set matches the " +
      "popcount-filter semantics") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val dims = q.length
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // equivalence to the brute popcount filter at an enumerable width:
    // probe buckets = { b : popcount(b ^ qBucket) <= h }, applied in the
    // test as a reference filter over the full 2^n space
    for ((n, h) <- Seq((6, 2), (10, 1))) {
      val qBucket = spark.range(1)
        .select(Similarity.srpBucket(
          org.apache.spark.sql.functions.typedlit(q), n, dims).as("b"))
        .head().getLong(0)
      val ref = (0L until (1L << n))
        .filter(b => java.lang.Long.bitCount(b ^ qBucket) <= h)
        .map(java.lang.Long.valueOf)
      val want = ids(emb
        .withColumn("__bucket",
          Similarity.srpBucket(org.apache.spark.sql.functions.col("embedding"),
            n, dims))
        .filter(org.apache.spark.sql.functions.col("__bucket").isin(ref: _*))
        .select(org.apache.spark.sql.functions.col("vec_id"),
          Similarity.cosineToQuery(
            org.apache.spark.sql.functions.col("embedding"), q).as("cos_sim"))
        .orderBy(org.apache.spark.sql.functions.col("cos_sim").desc,
          org.apache.spark.sql.functions.col("vec_id"))
        .limit(10))
      assert(ids(Similarity.srpTopKMultiProbe(emb, "vec_id", "embedding", q,
        10, nPlanes = n, hamming = h)) == want, s"(n=$n, h=$h)")
    }
    // nPlanes=40 is 2^40 ≈ 10^12 buckets — the old popcount enumeration
    // would never finish; the ball is 1 + 40 probes and runs instantly
    assert(ids(Similarity.srpTopKMultiProbe(emb, "vec_id", "embedding", q,
      10, nPlanes = 40, hamming = 1)).size <= 10)
  }

  test("IVF layout: compacting a fully-deleted layout (and appending an " +
      "empty batch) serves EMPTY instead of failing schema inference") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
      .filter($"vec_id" < 40)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_empty")
      .toString + "/emb"
    Similarity.ivfWriteLayout(emb, "vec_id", "embedding", dir,
      kClusters = 2, iters = 1)
    // an EMPTY append batch is legal (an ingest tick with no new rows)
    Similarity.ivfAppendLayout(emb.filter($"vec_id" < 0), "vec_id",
      "embedding", dir, batchId = 1L)
    def probe = Similarity.ivfProbeLayout(spark, dir, q, k = 5, nprobe = 2)
    assert(probe.collect().nonEmpty, "empty append must not disturb serving")
    // delete EVERYTHING, compact, vacuum: the only live batch is the
    // empty compaction — data/ must still carry a schema-bearing file
    Similarity.ivfDeleteLayout(emb.select($"vec_id"), "vec_id", dir,
      batchId = 2L)
    Similarity.ivfCompactLayout(spark, dir, "vec_id", newBatchId = 3L)
    Similarity.ivfVacuumLayout(spark, dir)
    assert(probe.collect().isEmpty,
      "a fully-deleted, compacted, vacuumed layout must serve empty")
    // and it comes back to life on a later append
    Similarity.ivfAppendLayout(emb.filter($"vec_id" < 10), "vec_id",
      "embedding", dir, batchId = 4L)
    assert(probe.collect().nonEmpty)
  }

  test("ivfProbeLayoutBatch: per-anchor results equal the single-anchor " +
      "layout probe; the scan prunes to the probed-cluster union") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_pb")
      .toString + "/emb"
    Similarity.ivfWriteLayout(emb, "vec_id", "embedding", dir,
      kClusters = 4, iters = 2)
    val anchors = Seq(0L, 3L, 7L)
    val batch = Similarity.ivfProbeLayoutBatch(spark, dir, anchors,
        k = 5, nprobe = 2)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq).toMap
    for (a <- anchors) {
      val single = Similarity.ivfProbeLayout(spark, dir,
          Similarity.vectorOf(emb, "vec_id", "embedding", a), k = 5,
          nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(a) == single, s"anchor $a: batch probe diverged")
    }
    // partition pruning: one anchor, one probed cluster -> one selected
    // partition at the scan
    val probe = Similarity.ivfProbeLayoutBatch(spark, dir, Seq(0L),
      k = 5, nprobe = 1)
    probe.collect()
    val selected = org.apache.spark.sql.graft.Shims
      .scanSelectedPartitionCount(probe.queryExecution.executedPlan)
    assert(selected.contains(1),
      s"batch probe must prune to the probed-cluster union, got $selected")
  }

  test("ivfTrainedTopK with nprobe=kClusters equals brute force exactly") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 3L)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ivf = Similarity.ivfTrainedTopK(emb, "vec_id", "embedding", q,
        k = 10, nprobe = 4, kClusters = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivf == brute)
  }

  test("batch topK ops agree with their single-anchor counterparts; " +
      "recallAtKBatch means per-anchor recalls") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val anchors = Seq(0L, 3L, 7L)
    val batch = Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding",
      anchors, k = 5).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq)
      .toMap
    for (a <- anchors) {
      val single = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          Similarity.vectorOf(emb, "vec_id", "embedding", a), 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(a) == single, s"anchor $a batch/single mismatch")
    }
    // nprobe = kClusters removes the approximation: batch IVF == batch brute
    val exact = Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding",
      anchors, 5)
    val full = Similarity.ivfTrainedTopKBatch(emb, "vec_id", "embedding",
      anchors, k = 5, nprobe = 4, kClusters = 4, iters = 2)
    val r = Similarity.recallAtKBatch(exact, full, "anchor_id", "vec_id", 5)
      .collect()(0)
    assert(r.getLong(1) == 3L && r.getDouble(2) == 1.0, r.toString)
    // disjoint approx: mean recall 0
    val none = Similarity.recallAtKBatch(exact,
      full.withColumn("vec_id", $"vec_id" + 1000000L), "anchor_id", "vec_id", 5)
      .collect()(0)
    assert(none.getDouble(2) == 0.0)
  }

  test("recallAtK: identical lists = 1, disjoint = 0, full probe = 1") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
    val self = Similarity.recallAtK(exact, exact, "vec_id", 10).collect()(0)
    assert(self.getLong(1) == 10L && self.getDouble(2) == 1.0)
    val disjoint = Similarity.recallAtK(exact,
      exact.withColumn("vec_id", $"vec_id" + 100000L), "vec_id", 10)
      .collect()(0)
    assert(disjoint.getLong(1) == 0L && disjoint.getDouble(2) == 0.0)
    // probing every cluster must recover the exact list: recall 1
    val full = Similarity.ivfTrainedTopK(emb, "vec_id", "embedding", q,
      k = 10, nprobe = 4, kClusters = 4, iters = 2)
    val r = Similarity.recallAtK(exact, full, "vec_id", 10).collect()(0)
    assert(r.getDouble(2) == 1.0)
    // exact list smaller than k: a perfect match still scores 1.0 (the
    // denominator is |exact|, not k)
    val tiny = exact.limit(3)
    val small = Similarity.recallAtK(tiny, tiny, "vec_id", 10).collect()(0)
    assert(small.getLong(1) == 3L && small.getDouble(2) == 1.0)
  }

  test("hardNegatives: different-label only, never the anchor, ranked desc") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val labels = emb.select("vec_id", "label")
      .as[(Long, Long)].collect().toMap
    val got = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      anchorIds = Seq(0L, 7L), k = 4).collect()
    assert(got.length == 8)
    got.groupBy(_.getLong(0)).foreach { case (anchor, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
      val sims = rows.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
      assert(sims == sims.sorted.reverse, "cos_sim must descend with rank")
      rows.foreach { r =>
        assert(r.getLong(2) != anchor, "anchor is never its own negative")
        assert(labels(r.getLong(2)) != labels(anchor),
          "negatives must carry a different label")
      }
    }
  }

  test("hardNegatives plan: anchors broadcast, no corpus-sized window") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val plan = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      Seq(0L), 3).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("Window"), s"top-k must be the bounded aggregate:\n$plan")
  }

  test("PQ: codes in range; full-rescore budget reproduces brute force") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val books = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 4, k = 8, iters = 1, dims = 64)
    assert(books.size == 4 && books.forall(_.size == 8) &&
      books.forall(_.forall(_.size == 16)))
    val codes = Similarity.pqEncode(emb, "embedding", books, 64)
      .select(explode(col("pq_code"))).as[Int].collect()
    assert(codes.forall(c => c >= 0 && c < 8))
    // ADC is approximate, but with rescore = |corpus| the exact rescore
    // sees everything — the result must EQUAL brute force
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val n = emb.count().toInt
    val full = Similarity.pqTopK(emb, "vec_id", "embedding", q,
      m = 4, k = 8, iters = 1, dims = 64, rescore = n, topK = 10)
      .select("vec_id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(full == brute)
  }

  test("semanticDedup: policy invariants and sub-block invariance") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val res = Similarity.semanticDedup(emb, "vec_id", "embedding",
      kClusters = 8, iters = 1, threshold = 0.4).collect()
    // total function: one verdict per input vector
    assert(res.length == emb.count())
    assert(res.exists(!_.getBoolean(3)), "threshold 0.4 must drop something")
    // the best (lowest cent_cos, then lowest id) member of every cluster
    // can have no better neighbor, so it always survives
    res.groupBy(_.getLong(1)).foreach { case (cl, rows) =>
      val best = rows.minBy(r => (r.getDouble(2), r.getLong(0)))
      assert(best.getBoolean(3), s"cluster $cl best member must be kept")
    }
    // a threshold above any cosine keeps everything
    val all = Similarity.semanticDedup(emb, "vec_id", "embedding",
      kClusters = 8, iters = 1, threshold = 1.01).collect()
    assert(all.forall(_.getBoolean(3)))
    // 1-Bucket-Theta sub-blocking must not change the verdict set
    val sub = Similarity.semanticDedup(emb, "vec_id", "embedding",
      kClusters = 8, iters = 1, threshold = 0.4, subBlocks = 4).collect()
    assert(res.map(r => (r.getLong(0), r.getBoolean(3))).toSeq.sorted ==
      sub.map(r => (r.getLong(0), r.getBoolean(3))).toSeq.sorted)
  }

  test("signBits packs known sign patterns; hammingTopK ranks the query " +
      "itself first with distance 0") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // dims 1..32: alternating +/- starting positive → bits 0,2,4,... set
    // (0x55555555); dims 33..64 all negative → 0
    val v = (0 until 64).map(i =>
      if (i < 32) (if (i % 2 == 0) 1.0f else -1.0f) else -1.0f)
    val df = Seq((0L, v)).toDF("vec_id", "embedding")
    val bits = df.select(
      Similarity.signBits("embedding", 1).as("lo"),
      Similarity.signBits("embedding", 33).as("hi")).head()
    assert(bits.getLong(0) == 0x55555555L)
    assert(bits.getLong(1) == 0L)

    val emb = graft.core.Tables.embeddings(spark, SparkSpec.Sf0001)
    val top = Similarity.hammingTopK(emb, "vec_id", "embedding",
      queryId = 0L, k = 10, rescore = 50).collect()
    assert(top.head.getLong(0) == 0L)     // self first by exact cosine
    assert(top.head.getLong(1) == 0L)     // at Hamming distance 0
    assert(top.forall(_.getLong(1) <= 64L))
    // the shortlist recalls a sane share of the exact top-10
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
    val recall = Similarity.recallAtK(exact,
      Similarity.hammingTopK(emb, "vec_id", "embedding", 0L, 10, 50),
      "vec_id", 10).head().getDouble(2)
    assert(recall >= 0.5, s"binary-hash recall@10 too low: $recall")
  }

  test("hammingRecallSweep: one curve, recall non-decreasing in budget, " +
      "max budget point equals the gate") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.Sf0001)
    val curve = Similarity.hammingRecallSweep(emb, "vec_id", "embedding",
        queryId = 0L, k = 10, budgets = Seq(10, 25, 50))
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(curve.map(_._1).toList == List(10L, 25L, 50L))
    assert(curve.sliding(2).forall(p => p(0)._2 <= p(1)._2),
      s"recall must not drop as budget grows: ${curve.toList}")
    // the (budget = rescore) point must agree with the standalone gate
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val gate = Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10),
      Similarity.hammingTopK(emb, "vec_id", "embedding", 0L, 10, 50),
      "vec_id", 10).head().getDouble(2)
    assert(curve.last._2 == gate)
  }

  test("randProjRecallSweep: recall non-decreasing in budget, max " +
      "budget point equals the standalone gate") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.Sf0001)
    val curve = Similarity.randProjRecallSweep(emb, "vec_id", "embedding",
        queryId = 0L, k = 10, budgets = Seq(10, 25, 50))
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(curve.map(_._1).toList == List(10L, 25L, 50L))
    assert(curve.sliding(2).forall(p => p(0)._2 <= p(1)._2),
      s"recall must not drop as budget grows: ${curve.toList}")
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val gate = Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10),
      Similarity.randProjTopK(emb, "vec_id", "embedding", 0L, 10, 50),
      "vec_id", 10).head().getDouble(2)
    assert(curve.last._2 == gate)
  }

  test("OPQ trained permutation: on anisotropic data the distortion " +
      "argmin picks the variance-balanced permutation and lifts PQ " +
      "recall at the same code budget; permutation preserves exact " +
      "geometry") {
    // anisotropic corpus: all the variance lives in the FIRST subspace
    // (dims 0..15 spread wide, the rest nearly constant) - the shape
    // OPQ exists for. Deterministic integer-derived floats.
    val dims = 64
    val rows = (0L until 200L).map { id =>
      val v = (0 until dims).map { i =>
        if (i < 16) ((id * 37 + i * 101) % 97).toFloat / 97f
        else 0.5f + (((id * 13 + i * 7) % 11).toFloat / 1100f)
      }
      (id, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val perm = Similarity.opqTrainedPermutation(emb, "vec_id", "embedding",
      m = 4, k = 8, iters = 1, dims = dims)
    assert(perm != (0 until dims), "anisotropic data must train a real permutation")
    // the balanced permutation spreads the 16 high-variance dims 4-per-subspace
    val hot = perm.zipWithIndex.filter(_._1 < 16).map(_._2 / 16)
    assert(hot.groupBy(identity).values.forall(_.size == 4),
      s"high-variance dims must balance 4 per subspace: $hot")
    val qv = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    def recallOf(frame: org.apache.spark.sql.DataFrame, q: Seq[Float]) = {
      val exact = Similarity.bruteForceTopK(frame, "vec_id", "embedding", q, 10)
      val approx = Similarity.pqTopK(frame, "vec_id", "embedding", q,
        m = 4, k = 8, iters = 1, dims = dims, rescore = 20, topK = 10)
      Similarity.recallAtK(exact, approx, "vec_id", 10)
        .collect().head.getDouble(2)
    }
    val pemb = Similarity.permuteVectors(emb, "embedding", perm)
    val qp = Similarity.vectorOf(pemb, "vec_id", "embedding", 0L)
    val base = recallOf(emb, qv)
    val opq = recallOf(pemb, qp)
    assert(opq >= base,
      s"balanced permutation must not lose recall: opq=$opq base=$base")
    // exact geometry invariant: brute-force top-10 ids identical
    val e1 = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 10)
      .select("vec_id").as[Long].collect().toSeq
    val e2 = Similarity.bruteForceTopK(pemb, "vec_id", "embedding", qp, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(e1 == e2, "permutation must preserve exact cosine ranking")
  }

  test("OPQ trained permutation returns the candidate with the measured " +
      "minimum distortion (ties to identity) and is deterministic") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    def distortionOf(perm: Seq[Int]) = {
      val p = Similarity.permuteVectors(emb, "embedding", perm)
      Similarity.pqDistortion(p, "embedding",
        Similarity.pqTrain(p, "vec_id", "embedding", 4, 8, 1, 64), 64)
    }
    val identity: Seq[Int] = 0 until 64
    val snake = Similarity.opqVariancePermutation(emb, "embedding", 4, 64)
    val (dId, dSn) = (distortionOf(identity), distortionOf(snake))
    val perm = Similarity.opqTrainedPermutation(emb, "vec_id", "embedding",
      m = 4, k = 8, iters = 1, dims = 64)
    val expected = if (dId.compareTo(dSn) <= 0) identity else snake
    assert(perm == expected,
      s"trainer must return the distortion argmin (id=$dId snake=$dSn)")
    assert(perm == Similarity.opqTrainedPermutation(emb, "vec_id",
      "embedding", m = 4, k = 8, iters = 1, dims = 64))
  }

  test("knnGraph: edges stay within block, out-degree capped, nearest " +
      "neighbor ranked first") {
    // block 0 along e1 with decreasing alignment; block 1 along e2
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 0), (1L, Seq(0.9f, 0.1f, 0.0f), 0),
      (2L, Seq(0.8f, 0.3f, 0.0f), 0), (3L, Seq(0.1f, 0.0f, 1.0f), 0),
      (10L, Seq(0.0f, 1.0f, 0.0f), 1), (11L, Seq(0.1f, 0.9f, 0.0f), 1),
      (12L, Seq(0.0f, 0.8f, 0.3f), 1)
    ).toDF("vec_id", "embedding", "label")
    val g = Similarity.knnGraph(emb, "vec_id", "embedding", "label", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val bySrc = g.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(bySrc.values.forall(_.size <= 2), "out-degree capped at kNbrs")
    val block0 = Set(0L, 1L, 2L, 3L); val block1 = Set(10L, 11L, 12L)
    assert(g.forall { case (s, d) =>
      (block0(s) && block0(d)) || (block1(s) && block1(d)) },
      s"edges must stay within their block: ${g.toList}")
    // 0=(1,0,0): nearest in block is 1=(.9,.1,0), then 2
    assert(bySrc(0L) == Set(1L, 2L), s"node 0 neighbors: $bySrc")
  }

  test("SqDist expression: correct value, float/double inputs, codegen " +
      "matches interpreted") {
    val df = Seq((Seq(1.0f, 2.0f, -3.0f), Seq(0.5, 2.0, 1.0))).toDF("a", "b")
    val expected = 0.5 * 0.5 + 0.0 + (-4.0) * (-4.0)
    assert(df.select(VectorOps.sqDist($"a", $"b")).as[Double].first()
      == expected)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(df.select(VectorOps.sqDist($"a", $"b")).as[Double].first()
      == expected)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    val withNull = Seq((Some(Seq(1.0f)), Option.empty[Seq[Double]]))
      .toDF("a", "b")
    assert(withNull.select(VectorOps.sqDist($"a", $"b")).collect()(0)
      .isNullAt(0))
    // degenerate-input semantics MATCH the decimal zip_with form: null
    // on length mismatch and on any null element (never a garbage read)
    val mismatch = Seq((Seq(1.0f, 2.0f), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    assert(mismatch.select(VectorOps.sqDist($"a", $"b")).collect()(0)
      .isNullAt(0), "length mismatch must be null")
    val nullElem = Seq((Seq(Some(1.0f), None), Seq(Some(1.0), Some(2.0))))
      .toDF("a", "b")
    assert(nullElem.select(VectorOps.sqDist($"a", $"b")).collect()(0)
      .isNullAt(0), "null element must be null")
  }

  test("nearestCluster: k=1 returns 0 for every row (no ANSI array-index " +
      "throw); degenerate vectors fall to the exact branch") {
    val df = Seq((1L, Seq(0.9f, 0.1f)), (2L, Seq(0.0f, 1.0f))).toDF("id", "v")
    val one = df.select(Similarity.nearestCluster(col("v"),
      Seq(Seq(1.0, 0.0))).as("c")).as[Int].collect()
    assert(one.toSeq == Seq(0, 0))
    // a vector with a null element: fast distances are null, the exact
    // branch decides — same cluster as the pure decimal form
    val deg = Seq((1L, Seq(Some(0.9f), None))).toDF("id", "v")
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val fast = deg.select(Similarity.nearestCluster(col("v"), cents)).collect()
    val exact = deg.select(Similarity.nearestClusterExact(col("v"), cents))
      .collect()
    assert(fast(0).toString == exact(0).toString,
      s"degenerate row diverged: $fast vs $exact")
  }

  test("nearestCluster two-phase is bit-identical to the pure decimal " +
      "argmin: fixture corpus, near-ties, exact ties") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.Sf0001)
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 1)
    val both = emb.select(col("vec_id"),
        Similarity.nearestCluster(col("embedding"), cents).as("fast"),
        Similarity.nearestClusterExact(col("embedding"), cents).as("exact"))
      .filter(col("fast") =!= col("exact"))
    assert(both.count() == 0, both.collect().take(5).mkString(","))
    // adversarial: duplicate centroids (exact tie -> lowest id) and a
    // vector equidistant to two centroids
    val tieCents = Seq(Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0))
    val pts = Seq(
      (1L, Seq(0.9f, 0.1f)),   // nearest: the duplicated centroid -> id 0
      (2L, Seq(0.5f, 0.5f)),   // equidistant to all three -> id 0
      (3L, Seq(0.0f, 0.99f)))  // clear winner id 2
    val df = pts.toDF("id", "v")
    val out = df.select(col("id"),
        Similarity.nearestCluster(col("v"), tieCents).as("fast"),
        Similarity.nearestClusterExact(col("v"), tieCents).as("exact"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    for ((id, f, e) <- out) assert(f == e, s"id=$id fast=$f exact=$e")
    assert(out.find(_._1 == 2L).get._2 == 0, "tie must go to lowest id")
    assert(out.find(_._1 == 3L).get._2 == 2)
  }

  test("knnGraph: zero-norm vectors rank last, never poison the top-k cutoff") {
    // NaN regression guard: a zero vector's cosine is 0/0 = NaN, and
    // NaN sorts above every double under desc — with kNbrs NaN pairs
    // the k-th fast value was NaN and the epsilon filter dropped EVERY
    // candidate for that src. Two zero vectors fill ranks 1..2 at
    // kNbrs=2 unless the nanvl guard maps them to -2.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.9f, 0.1f), 0),
      (2L, Seq(0.8f, 0.3f), 0),
      (8L, Seq(0.0f, 0.0f), 0), (9L, Seq(0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val g = Similarity.knnGraph(emb, "vec_id", "embedding", "label", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val bySrc = g.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // node 0 keeps its true neighbors — the zero vectors rank below them
    assert(bySrc(0L) == Set(1L, 2L), s"node 0 lost edges to NaN: $bySrc")
    assert(bySrc.values.forall(_.size <= 2), "out-degree capped at kNbrs")
    // degenerate srcs still emit edges (deterministic: dst asc among -2 ties)
    assert(bySrc.contains(8L) && bySrc.contains(9L),
      s"zero-norm sources must still get edges: $bySrc")
  }

  test("graphAnnTopK: beam search reaches the optimum in a block the " +
      "walk did not start in (per-block entries), exact scores") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 0), (1L, Seq(0.9f, 0.1f, 0.0f), 0),
      (2L, Seq(0.8f, 0.3f, 0.0f), 0), (3L, Seq(0.1f, 0.0f, 1.0f), 0),
      (10L, Seq(0.3f, 1.0f, 0.0f), 1), (11L, Seq(0.1f, 0.9f, 0.0f), 1),
      (12L, Seq(0.0f, 0.8f, 0.1f), 1)
    ).toDF("vec_id", "embedding", "label")
    // query along e2: the true best is 12 (no e1 mass) … compute brute
    val q = Seq(0.0f, 1.0f, 0.1f)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 3)
      .collect().map(_.getLong(0)).toSeq
    val got = Similarity.graphAnnTopK(emb, "vec_id", "embedding", "label",
        q, k = 3, kNbrs = 2, beam = 4, hops = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact,
      s"beam=4 over 7 nodes must recover the exact top-3: $got vs $exact")
  }

  test("kCenterSelect: greedy farthest-point picks the known spread set " +
      "with deterministic tie-breaks") {
    // 1D line embedded in 2D: points at x = 0, 1, 10, 11, 20
    val emb = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(10.0f, 0.0f)), (3L, Seq(11.0f, 0.0f)),
      (4L, Seq(20.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(emb, "vec_id", "embedding", k = 3)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // seed = min id (0 at x=0); farthest = 4 (x=20, d²=400);
    // then 2 (x=10: min(100, 100) = 100) — tie with 3 (min(121, 81)=81)
    // → 2 wins on distance alone
    assert(got.toSeq == Seq((1L, 0L, 0.0), (2L, 4L, 400.0), (3L, 2L, 100.0)),
      s"selection mismatch: ${got.toSeq}")
  }

  test("pcaTopComponent: diagonal cloud recovers the known axis, " +
      "eigenvalue, and explained fraction; deterministic") {
    // points on the x=y line: cov = [[1.25,1.25],[1.25,1.25]],
    // top eigvec ∝ (1,1)/√2, λ = 2.5 = trace → explained = 1.0
    val emb = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(1.0f, 1.0f)),
      (2L, Seq(2.0f, 2.0f)), (3L, Seq(3.0f, 3.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.pcaTopComponent(emb, "embedding", dims = 2,
        iters = 4)
      .orderBy("dim").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.map(_._2).toSeq == Seq(1.5, 1.5), "means exact")
    assert(got.map(_._3).toSeq == Seq(1.25, 1.25), "variances exact")
    val s = 1.0 / math.sqrt(2.0)
    got.foreach { g =>
      assert(math.abs(g._4 - s) < 1e-12, s"pc1 ≈ 1/√2: $g")
      assert(math.abs(g._5 - 2.5) < 1e-12, s"λ ≈ 2.5: $g")
      assert(math.abs(g._6 - 1.0) < 1e-12, s"explained ≈ 1: $g")
    }
    // residual invariant: C·v ≈ λ·v on the recovered component
    val (v1, v2, lam) = (got(0)._4, got(1)._4, got(0)._5)
    assert(math.abs(1.25 * v1 + 1.25 * v2 - lam * v1) < 1e-12)
    val again = Similarity.pcaTopComponent(emb, "embedding", 2, 4)
      .orderBy("dim").collect().map(_.getDouble(3))
    assert(again.toSeq == got.map(_._4).toSeq, "deterministic replay")
  }

  test("kCenterSelect ties break to the smallest id") {
    // symmetric pair equidistant from the seed
    val emb = Seq(
      (5L, Seq(0.0f, 0.0f)), (7L, Seq(-3.0f, 0.0f)), (9L, Seq(3.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(emb, "vec_id", "embedding", k = 2)
      .orderBy("round").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(5L, 7L), s"tie must pick the smaller id: $got")
  }

  test("kCenterSelect keeps each round's state in its checkpoint only " +
      "(nothing tracked in Caches) over several rounds") {
    // points at x = 0, 1, 4, 9, 16, 25
    val emb = (0L until 6L).map(i => (i, Seq((i * i).toFloat, 0.0f)))
      .toDF("vec_id", "embedding")
    graft.core.Caches.releaseAll()
    val got = Similarity.kCenterSelect(emb, "vec_id", "embedding", k = 4)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // 25 is farthest from 0; then 9 and 16 tie at 81 (smaller id wins);
    // then 16, at 49 from 9
    assert(got == Seq((1L, 0L, 0.0), (2L, 5L, 625.0), (3L, 3L, 81.0),
      (4L, 4L, 49.0)), s"selection mismatch: $got")
    assert(graft.core.Caches.releaseAll() == 0,
      "a checkpointed round must not be persisted a second time")
  }

  test("kCenterSelect breaks equal distances to the smallest id across " +
      "partitions, a zero-radius round included, in one job per round") {
    // seed 10 at x = 0; 20 and 40 share x = 5, 30 sits at x = -5. Higher
    // ids come first in partition order, so a per-partition argmax that
    // ignored the id would pick 40 or 30.
    val emb = spark.sparkContext.parallelize(Seq((40L, Seq(5.0f, 0.0f)),
      (30L, Seq(-5.0f, 0.0f)), (20L, Seq(5.0f, 0.0f)), (10L, Seq(0.0f, 0.0f))), 3)
      .toDF("vec_id", "embedding")
    val m = graft.core.QueryMetrics.register(spark.sparkContext)
    try {
      var picked: org.apache.spark.sql.DataFrame = null
      assert(graft.core.Watchdog.run(spark.sparkContext, "kc-ties", 120) {
        picked = Similarity.kCenterSelect(emb, "vec_id", "embedding", k = 4)
      }.isEmpty)
      val got = picked.orderBy("round").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      // round 2: 20, 30 and 40 tie at 25; round 3: 30 (40 now at 0);
      // round 4: every point at 0, so the smallest id again
      assert(got == Seq((1L, 10L, 0.0), (2L, 20L, 25.0), (3L, 30L, 25.0),
        (4L, 10L, 0.0)), s"selection mismatch: $got")
      val jobs = m.take("kc-ties").jobs
      // the seed, then the initial state and k - 2 rounds, each one
      // materializing job that also observes its argmax
      assert(jobs <= 4, s"$jobs jobs")
    } finally spark.sparkContext.removeSparkListener(m)
  }

  test("graphAnn layout: probe == in-memory serve; append freezes " +
      "batch-0 edges; unmarked batch stays invisible") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val path = "/tmp/graft_test_gann_spec"
    Similarity.graphAnnWriteLayout(emb, "vec_id", "embedding", "label",
      path, kNbrs = 5)
    val fromLayout = Similarity.graphAnnProbeLayout(spark, path, q,
      k = 10, beam = 24, hops = 4).collect().toSeq
    val inMemory = Similarity.graphAnnTopK(emb, "vec_id", "embedding",
      "label", q, k = 10, kNbrs = 5, beam = 24, hops = 4).collect().toSeq
    assert(fromLayout == inMemory, "at-rest serve must equal in-memory")

    // rebuild from even ids only, append odds, check the freeze
    val even = emb.filter($"vec_id" % 2 === 0)
    val odd = emb.filter($"vec_id" % 2 === 1)
    Similarity.graphAnnWriteLayout(even, "vec_id", "embedding", "label",
      path, kNbrs = 5)
    val edges0Before = spark.read.parquet(s"$path/edges/batch=0")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Similarity.graphAnnAppendLayout(odd, "vec_id", "embedding", "label",
      path, kNbrs = 5, batchId = 1L)
    val edges0After = spark.read.parquet(s"$path/edges/batch=0")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges0After == edges0Before, "append must not touch batch 0")
    // new nodes may point at old ones (cross-batch edges exist)
    val edges1 = spark.read.parquet(s"$path/edges/batch=1")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges1.forall(_._1 % 2 == 1), "batch-1 srcs are the new nodes")
    assert(edges1.exists(_._2 % 2 == 0), "new nodes link into the corpus")

    // crash-safety: an unmarked batch (no commit marker) is invisible
    val fs = graft.core.IndexCommits.fs(spark, path)
    spark.read.parquet(s"$path/vectors/batch=1").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/vectors/batch=7")
    val served = Similarity.graphAnnProbeLayout(spark, path, q, k = 10,
      beam = 24, hops = 4).collect()
    // an unfiltered read would double-score batch-1 ids (duplicate rows)
    assert(served.length == 10 &&
      served.map(_.getLong(0)).distinct.length == 10)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
  }

  test("graphAnn lifecycle: deletes exclude nodes + edges immediately, " +
      "compaction and vacuum serve bit-identically, as-of replays " +
      "history, compaction retry no-ops") {
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val q = Similarity.vectorOf(emb, "vec_id", "embedding", 0L)
    val path = "/tmp/graft_test_gann_lc_spec"
    def probe(asOf: Long = Long.MaxValue) =
      Similarity.graphAnnProbeLayout(spark, path, q, k = 10, beam = 24,
        hops = 4, asOf = asOf).collect().toSeq
    Similarity.graphAnnWriteLayout(emb.filter($"vec_id" % 2 === 0),
      "vec_id", "embedding", "label", path, kNbrs = 5)
    Similarity.graphAnnAppendLayout(emb.filter($"vec_id" % 2 === 1),
      "vec_id", "embedding", "label", path, kNbrs = 5, batchId = 1L)
    val preDelete = probe()
    Similarity.graphAnnDeleteLayout(
      emb.filter($"vec_id" % 10 === 0).select($"vec_id"),
      "vec_id", path, batchId = 2L)
    val afterDel = probe()
    assert(afterDel.forall(_.getLong(0) % 10 != 0),
      s"tombstoned ids must not serve: $afterDel")
    assert(afterDel != preDelete, "the fixture delete changes the top-10")
    // as-of batch 1 = the pre-delete index
    assert(probe(asOf = 1L) == preDelete, "as-of must replay history")
    Similarity.graphAnnCompactLayout(spark, path, "vec_id", newBatchId = 3L)
    assert(probe() == afterDel, "compaction must be serve-identical")
    // retry is a committed no-op
    Similarity.graphAnnCompactLayout(spark, path, "vec_id", newBatchId = 3L)
    assert(probe() == afterDel)
    val swept = Similarity.graphAnnVacuumLayout(spark, path)
    assert(swept > 0, "vacuum must sweep the superseded units")
    assert(probe() == afterDel, "vacuum must not change the serve")
    val fs = graft.core.IndexCommits.fs(spark, path)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$path/vectors/batch=0")), "superseded batch dir must be gone")
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
  }

  test("rangeSearch: membership is every vector at or above the " +
      "threshold; ordered (cos desc, id)") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(1f, 0f), 0),
      (2L, Array(0.8f, 0.6f), 0), (3L, Array(0f, 1f), 1),
      (4L, Array(-1f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.rangeSearch(emb, "vec_id", "embedding",
      Seq(1f, 0f), minCos = 0.5).collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    assert(r.map(_.getDouble(1)).take(2).toSeq === Seq(1.0, 1.0))
    assert(math.abs(r(2).getDouble(1) - 0.8) < 1e-7) // float32 vector
  }

  test("rangeSearchIvfGate: a probe covering every in-range cluster " +
      "reports full recall; pruning the right cluster out reports the " +
      "miss instead of hiding it") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0.8f, 0.6f), 0),
      (2L, Array(0.6f, 0.8f), 1), (3L, Array(0f, 1f), 1),
      (4L, Array(-1f, 0f), 2), (5L, Array(-1f, 0.1f), 2))
      .toDF("vec_id", "embedding", "label")
    val full = Similarity.rangeSearchIvfGate(emb, "vec_id", "embedding",
      "label", Seq(1f, 0f), minCos = 0.5, nprobe = 2).collect()
    assert(full.map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L))
    assert(full.forall(_.getBoolean(2)) &&
      full.forall(_.getDouble(3) == 1.0))
    val pruned = Similarity.rangeSearchIvfGate(emb, "vec_id", "embedding",
      "label", Seq(1f, 0f), minCos = 0.5, nprobe = 1).collect()
    val found = pruned.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(found(0L) && found(1L) && !found(2L),
      "cluster-1 member in range but outside the probe")
    assert(pruned.forall(r => math.abs(r.getDouble(3) - 2.0 / 3.0) < 1e-15))
  }

  test("knnClassify: separable clusters classify correctly; the " +
      "anchor's own row is excluded") {
    import spark.implicits._
    // two tight clusters; every anchor's k=3 neighbors are its own
    // cluster mates, never itself
    val emb = (0L to 3L).map(i =>
        (i, Array(1f, (i * 0.01f)), 7)) ++
      (4L to 7L).map(i => (i, Array(-1f, (i * 0.01f)), 9))
    val df = emb.toDF("vec_id", "embedding", "label")
    val r = Similarity.knnClassify(df, "vec_id", "embedding", "label",
      anchorIds = Seq(0L, 1L, 4L, 7L), k = 3).collect()
    assert(r.length == 4)
    r.foreach { row =>
      assert(row.getInt(1) == row.getInt(2), s"misclassified: $row")
      assert(row.getBoolean(4) && row.getLong(3) == 3L)
    }
  }

  test("sparseCosinePairs: exact integer cosine threshold - identical " +
      "token bags pair, disjoint ones never candidates, the boundary " +
      "cos = 1/2 case is INCLUDED (4*dot^2 == na2*nb2)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"), // identical
      (3L, "delta epsilon zeta"), // disjoint from 1/2
      (4L, "alpha alpha eta eta theta theta iota iota")) // vs doc1: dot=2, na2=3, nb2=16 -> 16 < 48: out
      .toDF("doc_id", "text")
    val toks = split(trim(lower(col("text"))), "\\s+")
    val r = Similarity.sparseCosinePairs(docs, "doc_id", toks, maxDf = 10)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(r.keySet === Set((1L, 2L)))
    assert(r((1L, 2L)) === ((3L, 3L, 3L)))
    // boundary: cos exactly 1/2 -> kept (>=): a = (2,0), b = (1, sqrt3)
    // integer version: a has tokens x x, b has x y y y: dot=2, na2=4,
    // nb2=... use x x / x y y y: dot = 2*1 = 2; na2 = 4; nb2 = 1+9=10?
    // cos^2 = 4/40 -> no. Construct exact half: a = "x x y", b = "x z z"
    // dot = 2*1 = 2? tf_a(x)=2? no: a: x x y -> (x:2, y:1) na2=5.
    // Simplest exact half: a=(1,1,0,0), b=(1,0,1,0)? dot=1, na2=2,
    // nb2=2 -> cos=1/2: 4*1 >= 4 -> kept.
    val half = Seq((1L, "x y"), (2L, "x z")).toDF("doc_id", "text")
    val rh = Similarity.sparseCosinePairs(half, "doc_id",
      split(trim(lower(col("text"))), "\\s+"), maxDf = 10).collect()
    assert(rh.length == 1 && rh.head.getLong(2) == 1L,
      "cos == 1/2 exactly is a member")
  }

  test("graphAnn append prunes the committed-side scan to touched " +
      "blocks (pushed In filter) and batches are block-clustered — the " +
      "r14 O(index)-per-append fix, pinned at the plan") {
    import spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, graft.SparkSpec.Sf0001)
    val path = "/tmp/graft_test_gann_prune_spec"
    val fs = graft.core.IndexCommits.fs(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Similarity.graphAnnWriteLayout(emb.filter($"vec_id" % 2 === 0),
      "vec_id", "embedding", "label", path, kNbrs = 3)
    // block clustering: every block lives in exactly one file of its
    // batch — the locality the pushed filter's row-group stats prune on
    val perBlock = spark.read.parquet(s"$path/vectors/batch=0")
      .select(input_file_name().as("f"), col("label"))
      .groupBy("label").agg(countDistinct(col("f")).as("nf")).collect()
    assert(perBlock.nonEmpty && perBlock.forall(_.getLong(1) == 1L),
      s"each block must be co-located in one file: ${perBlock.toSeq}")
    // capture every plan the append executes; the committed-side
    // vectors scan must carry the touched-blocks In() pushed filter
    val plans = collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString; () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // two touched blocks -> a genuine In(label, [0,1]) pushed filter
      // (one block collapses to EqualTo(label, 0), also accepted below)
      Similarity.graphAnnAppendLayout(
        emb.filter($"vec_id" % 2 === 1 && $"label".isin(0, 1)),
        "vec_id", "embedding", "label", path, kNbrs = 3, batchId = 1L)
      org.apache.spark.sql.graft.Shims.drainListenerBus(spark.sparkContext)
      val committedScans = plans.synchronized {
        plans.filter(p => p.contains("/vectors") && p.contains("Scan"))
      }
      assert(committedScans.exists(p =>
          p.contains("In(label") || p.contains("EqualTo(label")),
        "the committed-side vectors scan must push the touched-blocks " +
          s"filter; scans seen:\n${committedScans.mkString("\n---\n")}")
    } finally spark.listenerManager.unregister(listener)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
  }
}
