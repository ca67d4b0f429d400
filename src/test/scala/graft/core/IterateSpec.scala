package graft.core

import graft.SparkSpec
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.jdk.CollectionConverters._

class IterateSpec extends SparkSpec {

  private val D38 = DecimalType(38, 0)

  private def labels: DataFrame =
    spark.range(0, 5000, 1, 8)
      .select(col("id"), (col("id") * 7919L % 1000003L).as("label"))

  private def edges: DataFrame =
    spark.range(0, 3000, 1, 6)
      .select((col("id") % 997L + 1000L).as("hi"), (col("id") % 31L).as("lo"))
      .distinct()

  private val decimalSum = Seq(sum(col("label").cast(D38)).as("s"))
  private val edgeSignature = Seq(count(lit(1)).as("n"),
    sum(xxhash64(col("hi"), col("lo")).cast(D38)).as("h"))

  private def eager(df: DataFrame, metric: Seq[Column]) = {
    val row = df.localCheckpoint(true).agg(metric.head, metric.tail: _*).head()
    row.getValuesMap[Any](row.schema.fieldNames)
  }

  test("the observed metric equals the eager agg.head() value: the " +
      "decimal(38,0) sum, the (count, hash-sum) row, and an empty input") {
    val cases = Seq(
      (labels, decimalSum),
      (edges, edgeSignature),
      (labels.filter(col("id") < 0), decimalSum),
      (edges.filter(col("hi") < 0), edgeSignature))
    cases.foreach { case (df, metric) =>
      val (out, observed) = Iterate.measure(df, metric)
      val expected = eager(df, metric)
      assert(observed == expected, s"$observed vs $expected")
      assert(observed.size == metric.size)
      assert(out.count() == df.count())
    }
    val (_, s) = Iterate.measure(labels, decimalSum)
    assert(s("s").asInstanceOf[java.math.BigDecimal].scale == 0)
  }

  test("a convergent loop runs one job per round under QueryMetrics, " +
      "where checkpoint plus agg.head() runs more") {
    val m = QueryMetrics.register(spark.sparkContext)
    try {
      val sc = spark.sparkContext
      // narrow rounds (no exchange): every v drops by 16 until 0, so
      // round 4 reaches all zeros and round 5 repeats it
      val init = spark.range(0, 64, 1, 4).select(col("id"), col("id").as("v"))
      def step(s: DataFrame): DataFrame =
        s.select(col("id"), greatest(col("v") - 16L, lit(0L)).as("v"))
      val metric = Seq(sum(col("v")).as("s"))
      var loop: Iterate.Result = null
      assert(Watchdog.run(sc, "it-observe", timeoutS = 120) {
        loop = Iterate.fixpoint(init, 20, metric)((_, s) => step(s))
      }.isEmpty)
      var handRounds = 0
      assert(Watchdog.run(sc, "it-hand", timeoutS = 120) {
        var s = init
        var prev: Any = null
        var done = false
        while (!done) {
          s = step(s).localCheckpoint(true)
          val now = s.agg(metric.head).head().get(0)
          done = prev == now
          prev = now
          handRounds += 1
        }
      }.isEmpty)
      val observed = m.take("it-observe")
      val hand = m.take("it-hand")
      assert(loop.rounds == 5 && loop.converged && handRounds == 5)
      assert(observed.jobs == loop.rounds, observed)
      assert(hand.jobs > observed.jobs, s"$hand vs $observed")
    } finally spark.sparkContext.removeSparkListener(m)
  }

  test("rounds are numbered from 1, the cap stops a loop unconverged, " +
      "and an initial metric lets round 1 converge") {
    val init = spark.range(0, 10, 1, 2).toDF()
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val fixed = Iterate.rounds(init, 3) { (r, s) =>
      seen += r
      s.select((col("id") + r).as("id"))
    }
    assert(seen.toSeq == Seq(1, 2, 3))
    assert(fixed.rounds == 3 && !fixed.converged && fixed.states.size == 3)
    assert(fixed.states.map(_.agg(sum("id")).head().getLong(0)) ==
      Seq(55L, 75L, 105L))
    assert(fixed.state.agg(sum("id")).head().getLong(0) == 105L)
    assert(Iterate.rounds(init, 0)((_, s) => s).rounds == 0)

    val n = Seq(count(lit(1)).as("n"))
    // every round drops one more id, so the cap stops the loop first
    val capped = Iterate.fixpoint(init, 2, n)((r, s) => s.filter(col("id") >= r))
    assert(capped.rounds == 2 && !capped.converged)
    // an identity step repeats its metric at round 2 without an initial
    // metric, and at round 1 with one
    val same = Iterate.fixpoint(init, 5, n)((_, s) => s)
    assert(same.rounds == 2 && same.converged)
    val (seed, seedN) = Iterate.measure(init, n)
    val first = Iterate.fixpoint(seed, 5, n, Some(seedN))((_, s) => s)
    assert(first.rounds == 1 && first.converged)
  }

  test("localCheckpoint( appears in src/main only in Iterate.scala and " +
      "Curation.scala") {
    // split so this file does not match its own search
    val pattern = "localCheckpoint" + "("
    val allowed = Set("Iterate.scala", "Curation.scala")
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    def checkpoints(p: Path) = Files.readString(p).contains(pattern)
    val (owners, others) =
      sources.partition(p => allowed(p.getFileName.toString))
    assert(owners.size == 2 && owners.forall(checkpoints),
      "the guard must see the two allowed call sites")
    val offenders = others.filter(checkpoints)
    assert(offenders.isEmpty,
      s"localCheckpoint outside Iterate and stageBarrier: ${offenders.mkString(", ")}")
  }
}
