package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** K2/O6 — batch/lineage bookkeeping (SURVEY.md §2.2, §2.8).
  *
  * Every reference run inserts a `batch` row (pipeline name, date window,
  * comment = full params string) into Postgres and reads back the
  * DB-generated serial `batch_id`, then stamps that id onto every derived
  * row (reference: conn.insert_row(table_name="batch", ...),
  * diagnostic_group_pipeline_with_api.py:104-132).
  *
  * Lake-only, the ledger is a directory of marker files `batch_<id>`,
  * each holding its run row. [[newBatch]] creates the marker of the
  * listed max id + 1 with `overwrite = false`; neither it nor [[history]]
  * starts a Spark job. Same observable semantics as `INSERT ... RETURNING batch_id`
  * (SURVEY.md §7.3).
  *
  * Single-driver contract: allocation holds a JVM-wide lock, so threads
  * and instances in one driver get distinct, dense ids. The `overwrite =
  * false` refusal is exclusive across drivers on HDFS but not on
  * `file://` (Hadoop 3.4.2: 8 threads creating one path had more than one
  * winner in 286 and 245 of 300 rounds); a shared ledger belongs behind a
  * transactional table format, same API.
  *
  * A crash between create and write leaves an empty marker: its id stays
  * allocated and [[history]] lists it with null fields. A parquet ledger
  * of the earlier format at the path (`part-*`, no markers) fails naming
  * the path, since restarting at id 1 would turn new batches into
  * replays for idempotent sinks.
  */
final class BatchLedger(spark: SparkSession, ledgerPath: String) {
  import BatchLedger._

  private def fs = IndexCommits.fs(spark, ledgerPath)
  private def marker(id: Long) = new Path(ledgerPath, s"$Prefix$id")

  /** Every allocated id, ascending. */
  private def ids: Seq[Long] = {
    val (found, others) =
      IndexCommits.listMarkers(fs, new Path(ledgerPath), Seq(Prefix))
    if (found.isEmpty && others.exists(_.startsWith("part-")))
      throw new IllegalStateException(
        s"$ledgerPath holds a parquet batch ledger of the earlier format; " +
          "move it aside or point the ledger at a new path")
    found.map(_.id).sorted
  }

  /** Allocate the next batch id and durably record the run row. */
  def newBatch(pipelineName: String, dateFrom: String, dateTo: String,
               comment: String): Long = BatchLedger.synchronized {
    val id = ids.lastOption.fold(1L)(_ + 1L)
    val out = fs.create(marker(id), false)
    try Seq(pipelineName, dateFrom, dateTo, comment).foreach { s =>
      if (s == null) out.writeInt(-1)
      else { out.writeInt(s.length); out.writeChars(s) }
    } finally out.close()
    id
  }

  /** Every batch's run row (`batch_id` plus four strings), by id. */
  def history: DataFrame = {
    val f = fs
    val rows = ids.map { id =>
      val in = f.open(marker(id))
      val fields =
        try Seq.fill(4) {
          val n = in.readInt()
          if (n < 0) null else Seq.fill(n)(in.readChar()).mkString
        } catch { case _: java.io.EOFException => Seq.fill(4)(null) }
        finally in.close()
      Row.fromSeq(id +: fields)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schema)
  }
}

object BatchLedger {
  private val Prefix = "batch_"

  private val Schema = StructType.fromDDL("batch_id BIGINT, " +
    "pipeline_name STRING, date_from STRING, date_to STRING, comment STRING")

  /** O6 — stamp a batch id onto every row of a stage output
    * (reference: data["batch_id"] = batch_id,
    * diagnostic_group_pipeline_with_api.py:132).
    */
  def stamp(df: DataFrame, batchId: Long): DataFrame =
    df.withColumn("batch_id", lit(batchId))
}
