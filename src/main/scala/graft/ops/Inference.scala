package graft.ops

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** M1-M5 — batch inference as a first-class dataflow operator
  * (SURVEY.md §2.7).
  *
  * The reference loads a HuggingFace sequence classifier once per Airflow
  * task process and maps it over a pandas Series row by row (reference:
  * Torch_model ctor + apply_model, diagnostic_group_pipeline_with_api.py:
  * 275-300). The Spark-native shape is `mapPartitions` with:
  *
  *   - a per-EXECUTOR lazy singleton model (a JVM-static cache keyed by
  *     model id — on a 1000-executor cluster each executor pays model load
  *     exactly once, not once per task or per row);
  *   - intra-partition micro-batching (transformer inference throughput
  *     comes from batched forward passes, not row-at-a-time calls);
  *   - an explicit `repartition` knob before the stage so partition count
  *     matches inference parallelism rather than upstream file layout.
  *
  * This is deliberately NOT a Catalyst `Expression`: heavyweight init +
  * batching have no codegen win, and `mapPartitions` is the documented
  * pattern for opaque heavyweight per-partition state.
  *
  * Real torch models stay behind [[TextClassifier]]; fixtures use
  * [[DeterministicClassifier]], whose semantics are SQL-expressible (md5
  * arithmetic) so the DuckDB oracle can check the full pipeline.
  */
object Inference {

  /** The pluggable model seam (M1/M2). Implementations must be cheap to
    * construct *lazily inside the executor* via their [[ModelSpec]].
    */
  trait TextClassifier {
    /** Batched forward pass: texts → (predicted_label, model_score). */
    def predictBatch(texts: IndexedSeq[String]): IndexedSeq[(String, Double)]
  }

  /** Model registry entry (M5 — reference resolves model_id/location from a
    * `model` dimension table by (name, version),
    * diagnostic_group_pipeline_with_api.py:255-274).
    */
  final case class ModelSpec(modelId: Long, name: String, version: String,
                             location: String, numLabels: Int = 16)

  /** Deterministic stand-in for the pathologyBERT classifier: label k and
    * score derived from the first byte of the input text's md5 digest (the
    * first two hex digits of md5(text)). Identical results in Spark, DuckDB
    * and Python — the oracle-checkability seam of SURVEY.md §5.1. Emits
    * `LABEL_k` to preserve the reference's label surface (postprocessed by
    * TextOps.splitIndex, T7).
    */
  final class DeterministicClassifier(numLabels: Int) extends TextClassifier {
    private val labels = Array.tabulate(numLabels)(k => s"LABEL_$k")
    def predictBatch(texts: IndexedSeq[String]): IndexedSeq[(String, Double)] = {
      // One digest per call, not per instance: the cached model instance is
      // shared by all tasks on an executor, and MessageDigest is NOT
      // thread-safe. digest() resets it for the next text.
      val md5 = java.security.MessageDigest.getInstance("MD5")
      texts.map { t =>
        val b = md5.digest((if (t == null) "" else t)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))(0)
        // high nibble = first hex digit, low nibble = second
        (labels(((b >> 4) & 0xf) % numLabels), (b & 0xf) / 15.0)
      }
    }
  }

  /** Per-executor model cache: one model instance per (executor JVM,
    * model spec), shared by all tasks/partitions on that executor. Keyed
    * on the FULL spec — two specs sharing id/location but differing in
    * numLabels must not reuse each other's classifier. The cache is
    * intentionally unbounded and lives for the executor JVM: real model
    * weights are hundreds of MB and reload cost dwarfs the leak of the
    * handful of distinct specs a job touches.
    */
  private val modelCache = new ConcurrentHashMap[ModelSpec, TextClassifier]()

  private[graft] def loadModel(spec: ModelSpec): TextClassifier =
    modelCache.computeIfAbsent(spec,
      s => new DeterministicClassifier(s.numLabels))

  /** M1 — run classification over `textCol`, appending `predicted_label`
    * (string `LABEL_k`) and `model_score` (double). Batched mapPartitions
    * with the per-executor cache above.
    */
  def classify(df: DataFrame, textCol: String, spec: ModelSpec,
               batchSize: Int = 64): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema
      .add(StructField("predicted_label", StringType, nullable = false))
      .add(StructField("model_score", DoubleType, nullable = false))
    val textIdx = inSchema.fieldIndex(textCol)
    val enc = Encoders.row(outSchema)
    df.mapPartitions { it =>
      val model = loadModel(spec) // lazy per-executor init
      it.grouped(batchSize).flatMap { batch =>
        val preds = model.predictBatch(batch.map(_.getString(textIdx)).toIndexedSeq)
        batch.iterator.zip(preds.iterator).map { case (row, (label, score)) =>
          Row.fromSeq(row.toSeq :+ label :+ score)
        }
      }
    }(enc)
  }

  /** Embedding-generation seam — the third inference shape next to
    * classification (M1) and extractive QA (M3): text → dense vector,
    * the operator that feeds the similarity/dedup suite's `embedding`
    * column. Same executor-cached, micro-batched mapPartitions contract
    * as [[TextClassifier]] (a real implementation wraps a
    * sentence-transformer; throughput comes from batched forward passes).
    */
  trait TextEmbedder {
    def embedBatch(texts: IndexedSeq[String]): IndexedSeq[Array[Double]]
  }

  /** Deterministic stand-in embedder: dim j of the vector is byte j of
    * md5(text), mapped affinely to [-1, 1] — SQL-expressible
    * ((hex_pair / 255.0) * 2 - 1) so the full operator stays
    * oracle-checkable. Max 16 dims (one md5 digest).
    */
  final class DeterministicEmbedder(dims: Int) extends TextEmbedder {
    require(dims <= 16, "one md5 digest = 16 bytes = 16 dims")
    def embedBatch(texts: IndexedSeq[String]): IndexedSeq[Array[Double]] =
      texts.map { t =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        val d = digest.digest((if (t == null) "" else t).getBytes("UTF-8"))
        Array.tabulate(dims)(j => ((d(j) & 0xff) / 255.0) * 2 - 1)
      }
  }

  private val embedderCache = new ConcurrentHashMap[Int, TextEmbedder]()

  private[graft] def loadEmbedder(dims: Int): TextEmbedder =
    embedderCache.computeIfAbsent(dims, d => new DeterministicEmbedder(d))

  /** Embedding inference: appends `embedding` (array<double>, length
    * `dims`). Batched mapPartitions with a per-executor embedder cache —
    * the stage that turns a 100 TB text corpus into the vector column the
    * ANN/near-dup operators consume.
    */
  def embed(df: DataFrame, textCol: String, dims: Int = 8,
            batchSize: Int = 64): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(
      StructField("embedding", ArrayType(DoubleType, containsNull = false),
        nullable = false))
    val textIdx = inSchema.fieldIndex(textCol)
    val enc = Encoders.row(outSchema)
    df.mapPartitions { it =>
      val model = loadEmbedder(dims)
      it.grouped(batchSize).flatMap { batch =>
        val vecs = model.embedBatch(batch.map(_.getString(textIdx)).toIndexedSeq)
        batch.iterator.zip(vecs.iterator).map { case (row, v) =>
          Row.fromSeq(row.toSeq :+ v.toSeq)
        }
      }
    }(enc)
  }

  /** M5 — resolve a model from the registry dimension by (name, version).
    * The dimension is tiny: filter + `first()`, the degenerate broadcast.
    * (reference: diagnostic_group_pipeline_with_api.py:255-274)
    */
  def resolveModel(registry: DataFrame, name: String, version: String): ModelSpec = {
    val r = registry
      .filter(col("model_name") === name && col("model_version") === version)
      .select("model_id", "model_name", "model_version", "model_location")
      .first()
    ModelSpec(r.getLong(0), r.getString(1), r.getString(2), r.getString(3))
  }

  /** M3 — extractive-QA sectioning stand-in (reference: LongformerModel
    * .answerquestion asked once per section per report,
    * prostate_dag.py:103-124). The deterministic analog answers a question
    * by returning the window of text around the question's keyword —
    * same shape (one string answer per (question, text)), same
    * mapPartitions batching pattern as M1.
    */
  final case class QaQuestion(section: String, keyword: String)

  val prostateQuestions: Seq[QaQuestion] = Seq(
    QaQuestion("comment", "comment"), QaQuestion("addendum", "addendum"),
    QaQuestion("gross_description", "gross"), QaQuestion("diagnosis", "diagnosis"),
    QaQuestion("clinical_history", "history"), QaQuestion("microscopic", "micro"),
    QaQuestion("overall_report", ""))

  /** Same 7 sections keyed to words that actually occur in the synthetic
    * fixture vocabulary, so the operator does non-trivial work in the
    * oracle harness (the clinical keyword set above stays the production
    * default).
    */
  val fixtureQuestions: Seq[QaQuestion] = Seq(
    QaQuestion("comment", "merge"), QaQuestion("addendum", "stream"),
    QaQuestion("gross_description", "table"), QaQuestion("diagnosis", "query"),
    QaQuestion("clinical_history", "customer"), QaQuestion("microscopic", "filter"),
    QaQuestion("overall_report", ""))

  def answerQuestions(df: DataFrame, textCol: String,
                      questions: Seq[QaQuestion] = prostateQuestions,
                      window: Int = 80): DataFrame = {
    val inSchema = df.schema
    val outSchema = questions.foldLeft(inSchema)((s, q) =>
      s.add(StructField(q.section, StringType, nullable = true)))
    val textIdx = inSchema.fieldIndex(textCol)
    val enc = Encoders.row(outSchema)
    df.mapPartitions { it =>
      it.map { row =>
        val text = Option(row.getString(textIdx)).getOrElse("")
        val answers = questions.map { q =>
          if (q.keyword.isEmpty) text
          else {
            val i = text.indexOf(q.keyword)
            if (i < 0) "" else text.substring(i, math.min(text.length, i + window))
          }
        }
        Row.fromSeq(row.toSeq ++ answers)
      }
    }(enc)
  }
}
