package graft.core

import graft.SparkSpec
import graft.ops.Retrieval
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class IndexCommitsSpec extends SparkSpec {
  import spark.implicits._

  /** Build the resurrection-prone marker chain: batch_0 (two docs),
    * del_1 (tombstones doc 2), compact_2 (supersedes batch_0 + del_1),
    * compact_3 (supersedes batch_2 — a chained compaction, so compact_2
    * itself becomes a superseded unit). Served state: batches={3}.
    */
  private def buildChain(): String = {
    val path = java.nio.file.Files
      .createTempDirectory("graft_vacuum_order").toString
    Retrieval.writeIndex(
      Seq((1L, "apple banana"), (2L, "banana cherry")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    Retrieval.deleteFromIndex(Seq(2L).toDF("doc_id"), "doc_id", path, 1L)
    Retrieval.compactIndex(spark, path, "doc_id", newBatchId = 2L)
    Retrieval.compactIndex(spark, path, "doc_id", newBatchId = 3L)
    assert(IndexCommits.servedState(spark, path) ==
      IndexCommits.State(Seq(3L), Seq.empty))
    path
  }

  private val retrievalDirs: (String, Long) => Seq[String] = {
    case ("del", id) => Seq(s"tombstones/batch=$id")
    case (_, id)     => Seq(s"postings/batch=$id", s"stats/batch=$id")
  }

  test("vacuum sweeps markers in resurrection-safe order: a crash at ANY " +
      "superseded unit leaves servedState unchanged and the retry heals") {
    // Superseded units: batch_0, del_1, compact_2. Crash the sweep AT
    // each of them in turn (dirsFor throws when asked about that unit):
    // everything processed earlier is already gone, and replay must
    // still say batches={3} — the ordering invariant. The classic
    // failure this pins down: lexicographic listing puts compact_2
    // BEFORE del_1, so an unordered sweep deleting compact_2 first
    // resurrects the del_1 tombstone against the compacted batch (its
    // docs get anti-joined and its length double-subtracted), and a
    // crash there corrupts serving until the retry.
    for (abortAt <- Seq(("batch", 0L), ("del", 1L), ("compact", 2L))) {
      val path = buildChain()
      val want = Retrieval.bm25FromIndex(spark, path, "doc_id",
        Seq("banana", "cherry"), 10).collect().toSeq
      intercept[RuntimeException] {
        IndexCommits.vacuum(spark, path, (kind, id) =>
          if ((kind, id) == abortAt)
            throw new RuntimeException(s"injected crash at $abortAt")
          else retrievalDirs(kind, id))
      }
      assert(IndexCommits.servedState(spark, path) ==
        IndexCommits.State(Seq(3L), Seq.empty),
        s"mid-sweep crash at $abortAt resurrected superseded units")
      assert(Retrieval.bm25FromIndex(spark, path, "doc_id",
        Seq("banana", "cherry"), 10).collect().toSeq == want,
        s"serving drifted after a mid-sweep crash at $abortAt")
      // the retry completes the sweep; state and serving still intact
      Retrieval.vacuumIndex(spark, path)
      assert(IndexCommits.servedState(spark, path) ==
        IndexCommits.State(Seq(3L), Seq.empty))
      assert(Retrieval.bm25FromIndex(spark, path, "doc_id",
        Seq("banana", "cherry"), 10).collect().toSeq == want)
      val f = IndexCommits.fs(spark, path)
      assert(!f.exists(new org.apache.hadoop.fs.Path(path + "/postings/batch=0")))
      assert(!f.exists(new org.apache.hadoop.fs.Path(path + "/tombstones/batch=1")))
      assert(!f.exists(new org.apache.hadoop.fs.Path(path + "/postings/batch=2")))
    }
  }

  private def tempStore(prefix: String, parts: IndexCommits.Part*) =
    IndexCommits.Store(spark,
      Files.createTempDirectory(prefix).toString, parts)

  test("a reset stopped after its first delete serves an empty store, and " +
      "the retried build serves the new corpus") {
    val store = tempStore("graft_reset_order",
      IndexCommits.Part("data", partitionBy = Some("k")), IndexCommits.Part("side"))
    def build(ids: Seq[Long]): Unit = {
      store.reset()
      store.write(0L, ids.map(i => (i, i % 2)).toDF("id", "k"),
        ids.map(i => (i, s"v$i")).toDF("id", "v"))
    }
    def served(part: String) = store.served(part = part, idCol = Some("id"))
      .select("id").as[Long].collect().sorted.toSeq
    build(Seq(1L, 2L, 3L))
    store.delete(1L, Seq(2L).toDF("id"))
    assert(served("data") == Seq(1L, 3L))
    // the reset's first delete, and nothing after it: every marker is
    // gone while every data directory is still there
    val f = IndexCommits.fs(spark, store.path)
    f.delete(new org.apache.hadoop.fs.Path(s"${store.path}/${store.resetOrder.head}"), true)
    assert(store.snapshot() == IndexCommits.State(Seq.empty, Seq.empty))
    assert(served("data").isEmpty && served("side").isEmpty)
    build(Seq(7L, 8L))
    assert(store.snapshot() == IndexCommits.State(Seq(0L), Seq.empty))
    assert(served("data") == Seq(7L, 8L) && served("side") == Seq(7L, 8L))
  }

  test("empty-unit guard: compacting a fully-deleted store serves an empty " +
      "result for a partitioned and an unpartitioned part") {
    val store = tempStore("graft_empty_unit",
      IndexCommits.Part("keyed", partitionBy = Some("bucket")),
      IndexCommits.Part("flat"))
    store.reset()
    store.write(0L, Seq((1L, 0, 1.5), (2L, 3, 2.5)).toDF("id", "bucket", "x"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    store.delete(1L, Seq(1L, 2L).toDF("id"))
    store.compact(2L)(state => Seq(
      store.served(state, "keyed", Some("id")).drop("batch"),
      store.served(state, "flat", Some("id")).drop("batch")))
    assert(store.vacuum() == 2) // batch_0 and del_1
    assert(store.snapshot() == IndexCommits.State(Seq(2L), Seq.empty))
    val keyed = store.served(part = "keyed")
    val flat = store.served(part = "flat")
    assert(keyed.collect().isEmpty && flat.collect().isEmpty)
    assert(keyed.columns.toSet == Set("id", "x", "bucket", "batch"))
    assert(flat.columns.toSet == Set("id", "s", "batch"))
    // an append after the empty compaction serves beside it
    store.write(3L, Seq((5L, 1, 0.5)).toDF("id", "bucket", "x"),
      Seq((5L, "e")).toDF("id", "s"))
    assert(store.served(part = "keyed").select("id").as[Long].collect().toSeq == Seq(5L))
  }

  test("the unit layout and marker writes live in IndexCommits.scala alone") {
    // split so this file does not match its own search
    val patterns = Seq("batch=" + "$", "/" + "commits",
      "IndexCommits" + ".mark(", "commit" + "Compaction(")
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    def hits(p: java.nio.file.Path) = {
      val text = Files.readString(p)
      patterns.filter(text.contains)
    }
    val (home, others) =
      sources.partition(_.getFileName.toString == "IndexCommits.scala")
    assert(home.nonEmpty && home.forall(hits(_).nonEmpty),
      "the guard must see the layout in IndexCommits.scala itself")
    val offenders = others.map(p => p -> hits(p)).filter(_._2.nonEmpty)
    assert(offenders.isEmpty, "batch-unit layout outside IndexCommits: " +
      offenders.map { case (p, h) => s"$p (${h.mkString(", ")})" }.mkString("; "))
  }
}
