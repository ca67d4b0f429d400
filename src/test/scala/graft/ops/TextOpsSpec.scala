package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic samples from a Gen (no scalatestplus bridge offline). */
  private def samples[A](g: Gen[A], n: Int = 40): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def clean1(s: String): String =
    Seq(s).toDF("t").select(TextOps.cleanMsg($"t")).as[String].first()

  test("cleanMsg lowercases, strips control chars, collapses whitespace") {
    assert(clean1("AB\t  C\r\nD") == "a b c d")
    assert(clean1("  Already clean  ") == "already clean")
    assert(clean1("") == "")
  }

  test("cleanMsg is idempotent (property)") {
    val texts = Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const(""),
      Gen.const("  "), Gen.const("\n"))).map(_.mkString)
    val cases = samples(texts)
    val df = cases.toDF("t").select(TextOps.cleanMsg($"t").as("once"))
      .withColumn("twice", TextOps.cleanMsg($"once"))
    assert(df.filter($"once" =!= $"twice").count() == 0)
  }

  /** The regex chain cleanMsg replaced; kept here only as the reference. */
  private def regexClean(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[\\x00-\\x1f]+", " "), "\\s+", " "))

  test("cleanMsg equals the lower/regex/trim chain: 3000 generated strings, " +
      "edge inputs, NULL and malformed UTF-8") {
    val pieces = Seq("\t", "\r\n", "\r", "\n", "\u000B", "\f", "\u0000",
      "\u001F", "\u007F", "\u00A0", "\u0085", "\u2003", "\u3000", "\u0130",
      "\u03A3\u0391\u03A3", "\uD83D\uDE00", " ", "  ", "    ", "A", "b", "Word")
    val texts = Gen.choose(0, 12)
      .flatMap(k => Gen.listOfN(k, Gen.oneOf(pieces))).map(_.mkString)
    val cases = samples(texts, 3000)
    assert(cases.size >= 3000 && cases.distinct.size > 1000)
    val edges = Seq[String]("a\tb", "", " ", "\t\r\n\u000B\f ", "\u0000\u001F",
      " a ", "a\t", "\ta", "a \tb", "a\u007Fb", "A\u00A0B", null)
    // malformed UTF-8: lone continuation, truncated lead, invalid bytes
    val malformed = Seq(
      Array[Byte](0x41, 0x80.toByte, 0x09, 0x42),
      Array[Byte](0x20, 0xC3.toByte, 0x20, 0x20, 0x43),
      Array[Byte](0xFF.toByte, 0x0A, 0xFE.toByte, 0x20),
      Array[Byte](0xED.toByte, 0xA0.toByte, 0x80.toByte, 0x1F, 0x61),
      Array[Byte](0xE2.toByte, 0x82.toByte, 0x09, 0x41))
      .toDF("b").select($"b".cast("string").as("t"))
    val bad = (cases ++ edges).toDF("t").unionByName(malformed)
      .select($"t", TextOps.cleanMsg($"t").as("got"), regexClean($"t").as("want"))
      .filter(!($"got" <=> $"want")).collect() // NULL-safe: NULL must map to NULL
    assert(bad.isEmpty, bad.take(5).mkString("; "))
    assert(clean1("a\tb") == "a b") // same length as the input, yet changed
  }

  test("basicReg strips non-word punctuation, keeps basic marks") {
    val got = Seq("a@b#c, d:e!").toDF("t")
      .select(TextOps.basicReg($"t")).as[String].first()
    assert(got == "a b c, d:e ")
  }

  test("formatDate reformats to yyyyMMdd (reference format_date)") {
    val got = Seq("2023-10-01").toDF("d")
      .select(TextOps.formatDate($"d", "yyyy-MM-dd")).as[String].first()
    assert(got == "20231001")
  }

  test("splitIndex: LABEL_7 -> 7; no separator -> null (pandas drift pin)") {
    val df = Seq("LABEL_7", "NOUNDERSCORE").toDF("l")
      .select(TextOps.splitIndex($"l", 1).as("x"))
    assert(df.collect().map(r => Option(r.getString(0))).toSeq ==
      Seq(Some("7"), None))
  }

  test("fingerprint equals md5 of normalized text and ignores formatting") {
    val df = Seq("Hello  World", "hello world").toDF("t")
      .select(TextOps.fingerprint($"t").as("fp"))
    val fps = df.as[String].collect()
    assert(fps(0) == fps(1))
    assert(fps(0).length == 32)
  }
}
