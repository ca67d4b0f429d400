package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class TruncateSpec extends SparkSpec {
  import spark.implicits._

  private def run(text: String, part: String, budget: Int): (String, Int) = {
    val r = Seq((text, part)).toDF("t", "p")
      .select(Truncate.truncateStruct($"t", $"p", budget).as("s"))
      .select($"s.filtered_message", $"s.offset").collect()(0)
    (r.getString(0), r.getInt(1))
  }

  private def words(a: Int, b: Int): String = (a to b).map(i => s"w$i").mkString(" ")

  test("at exactly budget tokens: untouched (boundary pin)") {
    assert(run(words(1, 5), "entire report", 5) == ((words(1, 5), 0)))
  }

  test("budget+1 tokens, entire report: keeps LAST budget tokens") {
    assert(run(words(1, 6), "entire report", 5) == ((words(2, 6), 1)))
  }

  test("budget+1 tokens, section buckets: keep FIRST budget tokens") {
    assert(run(words(1, 6), "gross_or_micro", 5) == ((words(1, 5), 1)))
    assert(run(words(1, 6), "diag_or_add", 5) == ((words(1, 5), 1)))
  }

  test("empty and whitespace-only text survive") {
    assert(run("", "entire report", 5) == (("", 0)))
    assert(run("   ", "entire report", 5) == (("", 0)))
  }

  test("tokenCount: 0 for blank, whitespace-run tolerant") {
    val df = Seq("", "  ", "a  b\t c").toDF("t")
      .select(Truncate.tokenCount($"t").as("n"))
    assert(df.as[Int].collect().toSeq == Seq(0, 0, 3))
  }

  /** The split/slice/concat_ws chain the kernel replaced; kept here only
    * as the reference.
    */
  private def chainCount(t: Column): Column =
    when(trim(t) === "", lit(0)).otherwise(size(split(trim(t), "\\s+")))

  private def chainTruncate(t: Column, part: Column, budget: Int): Column = {
    val toks = split(trim(t), "\\s+")
    when(size(toks) <= budget, trim(t))
      .when(part === "entire report", concat_ws(" ", slice(toks, -budget, budget)))
      .otherwise(concat_ws(" ", slice(toks, 1, budget)))
  }

  test("the kernel equals the split/slice/concat_ws chain: 3000 generated " +
      "strings, NULL and malformed UTF-8, every part, budgets around each count") {
    val pieces = Seq("\t", "\r\n", "\r", "\n", "\u000B", "\f", "\u0000",
      " ", "  ", "    ", "\u00A0", "\u3000", "\u00E9t\u00E9", "\u03A3\u0391\u03A3",
      "\u4E2D\u6587", "\uD83D\uDE00", "a", "Word", "w1", "")
    val gen = Gen.choose(0, 24)
      .flatMap(k => Gen.listOfN(k, Gen.oneOf(pieces))).map(_.mkString)
    val cases = (0 until 3000).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))
    assert(cases.size >= 3000 && cases.distinct.size > 1000)
    val edges = Seq[String]("", " ", "\t", "\ta b", "a b\t", "\t\t", " \t ",
      "a\u00A0b", null)
    // malformed UTF-8 beside whitespace: lone continuation, truncated
    // leads, a surrogate, invalid bytes
    val malformed = Seq(
      Array[Byte](0x41, 0x80.toByte, 0x09, 0x42, 0x20, 0x43),
      Array[Byte](0x61, 0x20, 0xC3.toByte, 0x20, 0x20, 0x43),
      Array[Byte](0xFF.toByte, 0x0A, 0xFE.toByte, 0x20, 0x62),
      Array[Byte](0x61, 0x20, 0xED.toByte, 0xA0.toByte, 0x80.toByte, 0x0B, 0x61),
      Array[Byte](0x61, 0x09, 0xE2.toByte, 0x82.toByte, 0x09, 0x41),
      Array[Byte](0x61, 0x20, 0x62, 0x20, 0xF0.toByte, 0x9F.toByte, 0x98.toByte))
      .toDF("b").select($"b".cast("string").as("t"))
    val rows = (cases ++ edges).toDF("t").unionByName(malformed)
      .crossJoin(Seq("entire report", "gross_or_micro", "diag_or_add", null).toDF("p"))
      .cache()
    val maxN = rows.select(max(chainCount($"t"))).as[Int].first()
    // 1..maxN+1 holds n-1, n and n+1 of every row's count n
    val budgets = ((1 to maxN + 1) ++ Seq(16, 510)).distinct
    // the first budget on which kernel and chain differ (NULL-safe), if any
    val firstBad = coalesce(budgets.map(b => when(
      !(Truncate.truncateText($"t", $"p", b) <=> chainTruncate($"t", $"p", b)),
      lit(b))): _*)
    val bad = rows
      .withColumn("bad_budget", firstBad)
      .filter($"bad_budget".isNotNull ||
        !(Truncate.tokenCount($"t") <=> chainCount($"t")) ||
        !(TextAnalysis.tokenCountWs($"t") <=> chainCount($"t").cast("long")))
      .collect()
    assert(bad.isEmpty, bad.take(5).mkString("; "))
    // the over-budget branch ran for both cuts, and NULL text gives ""
    val cut = rows.filter(chainCount($"t") > 1 && $"p".isNotNull)
      .select($"p" === "entire report").distinct().count()
    assert(maxN >= 8 && cut == 2)
    assert(Seq[String](null).toDF("t")
      .select(Truncate.truncateText($"t", lit("entire report"), 1)).as[String].first() == "")
    rows.unpersist()
  }
}
