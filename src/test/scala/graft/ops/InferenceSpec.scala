package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class InferenceSpec extends SparkSpec {
  import spark.implicits._

  private val spec = Inference.ModelSpec(7L, "m", "1", "loc")

  test("classify appends (predicted_label, model_score), deterministic md5 semantics") {
    val df = Seq((1L, "hello"), (2L, "")).toDF("msgid", "msg")
    val out = Inference.classify(df, "msg", spec).orderBy("msgid").collect()
    // md5("hello") = 5d41..., first nibble 5 -> LABEL_5, second nibble d=13
    assert(out(0).getAs[String]("predicted_label") == "LABEL_5")
    assert(out(0).getAs[Double]("model_score") == 13 / 15.0)
    assert(out(1).getAs[String]("predicted_label").startsWith("LABEL_"))
  }

  test("classify matches the SQL md5 formula (oracle seam)") {
    // label and score, for 5 labels as well as 16; a NULL text hashes as ""
    val df = (Seq.tabulate(200)(i => (i.toLong, s"text number $i")) :+ ((200L, null)))
      .toDF("msgid", "msg")
    val h = md5(coalesce($"msg", lit("")))
    def nibble(pos: Int) = conv(substring(h, pos, 1), 16, 10).cast("long")
    for (n <- Seq(5, 16)) {
      val viaOp = Inference.classify(df, "msg", spec.copy(numLabels = n))
        .select($"msgid", $"predicted_label", $"model_score")
      val viaSql = df.select($"msgid",
        concat(lit("LABEL_"), nibble(1) % n).as("label"),
        (nibble(2) / 15.0).as("score"))
      val joined = viaOp.join(viaSql, "msgid")
      assert(joined.count() == 201)
      val bad = joined
        .filter($"predicted_label" =!= $"label" || $"model_score" =!= $"score")
        .collect()
      assert(bad.isEmpty, s"numLabels=$n: ${bad.take(5).mkString("; ")}")
    }
    // md5("") = d41d8cd9...: d = 13 -> LABEL_13 of 16, LABEL_3 of 5; 4/15
    val nullRow = Inference.classify(df.filter($"msg".isNull), "msg",
      spec.copy(numLabels = 5)).first()
    assert(nullRow.getAs[String]("predicted_label") == "LABEL_3")
    assert(nullRow.getAs[Double]("model_score") == 4 / 15.0)
  }

  test("model cache: one instance per spec key") {
    val a = Inference.loadModel(spec)
    val b = Inference.loadModel(spec)
    assert(a eq b)
    assert(!(Inference.loadModel(spec.copy(modelId = 8L)) eq a))
    // same id/location, different numLabels -> distinct classifier
    assert(!(Inference.loadModel(spec.copy(numLabels = spec.numLabels + 1)) eq a))
  }

  test("resolveModel picks by (name, version) from the registry dimension") {
    val reg = Seq((1L, "bert", "1", "a"), (2L, "bert", "2", "b"))
      .toDF("model_id", "model_name", "model_version", "model_location")
    val m = Inference.resolveModel(reg, "bert", "2")
    assert(m.modelId == 2L && m.location == "b")
  }

  test("embed: md5-derived dims in [-1,1], deterministic, known value") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "other")).toDF("id", "text")
    val out = Inference.embed(df, "text").orderBy("id")
      .select($"embedding").as[Seq[Double]].collect()
    assert(out.forall(v => v.length == 8 && v.forall(x => x >= -1 && x <= 1)))
    assert(out(0) == out(1) && out(0) != out(2))
    // md5("a") = 0cc175b9... -> first byte 0x0c = 12 -> (12/255)*2-1
    assert(out(0).head == (12 / 255.0) * 2 - 1)
  }

  test("answerQuestions returns keyword windows; empty keyword = whole text") {
    val df = Seq((1L, "aaa gross finding bbb")).toDF("msg_id", "text")
    val out = Inference.answerQuestions(df, "text",
      Seq(Inference.QaQuestion("g", "gross"), Inference.QaQuestion("all", "")),
      window = 10).collect()(0)
    assert(out.getAs[String]("g") == "gross find")
    assert(out.getAs[String]("all") == "aaa gross finding bbb")
  }
}
