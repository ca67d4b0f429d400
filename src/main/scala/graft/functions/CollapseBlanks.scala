package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass blank folding — the kernel behind `TextOps.cleanMsg`.
  *
  * A "blank" is any byte in [0x00, 0x20]: the C0 control characters and
  * the space. Every maximal run of blanks becomes one space, and a run at
  * either end is dropped. That is exactly what the chain
  * `trim(regexp_replace(regexp_replace(s, "[\x00-\x1f]+", " "), "\s+", " "))`
  * computes, since Java's `\s` is `[ \t\n\x0B\f\r]` and Spark's `trim`
  * strips only 0x20. Bytes below 0x80 never occur inside a multi-byte
  * UTF-8 sequence, so one scan over the UTF8String's bytes is exact — no
  * UTF8String → String → UTF8String round trip per regex.
  */
object BlankRuns extends Serializable {

  def collapse(s: UTF8String): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val out = new Array[Byte](n)
    var j = 0
    var gap = false
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b >= 0 && b <= 0x20) gap = true
      else {
        if (gap && j > 0) { out(j) = ' '; j += 1 }
        gap = false
        out(j) = b
        j += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, j)
  }

  /** Fold the blank runs of a string column. */
  def collapse(text: Column): Column =
    Shims.column(CollapseBlanks(Shims.expression(text)))
}

/** [[BlankRuns.collapse]] as a codegen'd Catalyst Expression, shipped like
  * [[UnicodeNormalize]] and [[WordPieceTokenize]]: it stays inside
  * WholeStageCodegen — never a UDF.
  */
case class CollapseBlanks(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"collapse_blanks requires a string input, got ${other.simpleString}")
  }

  override def nullSafeEval(t: Any): Any =
    BlankRuns.collapse(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("blankRuns", BlankRuns, BlankRuns.getClass.getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $ref.collapse($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
