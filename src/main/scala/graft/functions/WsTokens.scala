package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokens in one byte pass — the kernel behind
  * `Truncate.tokenCount`, `Truncate.truncateText` and
  * `TextAnalysis.tokenCountWs`.
  *
  * The tokens are those of `split(trim(t), "\\s+")`. Java's `\s` is the
  * bytes 0x09–0x0D and 0x20, and Spark's `trim` strips only 0x20, so a
  * text led or ended by a tab keeps an empty first or last token. None of
  * these bytes occurs inside a multi-byte UTF-8 sequence, so scanning the
  * UTF8String's bytes finds exactly the splits the regex finds: a
  * trimmed text has one token more than it has whitespace runs.
  */
object WsTokens extends Serializable {

  private def isWs(b: Byte): Boolean = b == ' ' || (b >= 0x09 && b <= 0x0d)

  private def runs(base: AnyRef, off: Long, n: Int): Int = {
    var k = 0
    var inRun = false
    var i = 0
    while (i < n) {
      val ws = isWs(Platform.getByte(base, off + i))
      if (ws && !inRun) k += 1
      inRun = ws
      i += 1
    }
    k
  }

  /** Tokens of `split(trim(s), "\\s+")`; 0 when `trim(s)` is empty. */
  def count(s: UTF8String): Int = {
    val t = s.trim()
    if (t.numBytes == 0) 0 else runs(t.getBaseObject, t.getBaseOffset, t.numBytes) + 1
  }

  /** `trim(s)` when it has at most `budget` tokens. Otherwise its first
    * `budget` tokens, or its last `budget` when `keepLast`, joined by one
    * space — what `concat_ws(" ", slice(split(trim(s), "\\s+"), ...))`
    * gives. The chain decodes the text to split it, so a malformed UTF-8
    * input has its cut decoded and re-encoded the same way.
    */
  def truncate(s: UTF8String, keepLast: Boolean, budget: Int): UTF8String = {
    val t = s.trim()
    val base = t.getBaseObject
    val off = t.getBaseOffset
    val n = t.numBytes
    val k = runs(base, off, n)
    if (k < budget) return t
    // the kept tokens lie between run number `skip` and run number `stop`
    // (run k + 1 does not exist: keep to the end)
    val skip = if (keepLast) k + 1 - budget else 0
    val stop = skip + budget
    val out = new Array[Byte](n)
    var j = 0
    var seen = 0
    var inRun = false
    var i = 0
    while (i < n && seen < stop) {
      val b = Platform.getByte(base, off + i)
      if (isWs(b)) {
        if (!inRun) {
          seen += 1
          if (seen > skip && seen < stop) { out(j) = ' '; j += 1 }
        }
        inRun = true
      } else {
        if (seen >= skip) { out(j) = b; j += 1 }
        inRun = false
      }
      i += 1
    }
    val cut = UTF8String.fromBytes(out, 0, j)
    if (t.isValid) cut else UTF8String.fromString(cut.toString)
  }

  /** Whitespace token count of a string column; NULL for NULL. */
  def count(text: Column): Column =
    Shims.column(WsTokenCount(Shims.expression(text)))

  /** Token-budget truncation of a string column; NULL when either input
    * is NULL.
    */
  def truncate(text: Column, keepLast: Column, budget: Int): Column =
    Shims.column(TruncateWsTokens(
      Shims.expression(text), Shims.expression(keepLast), budget))
}

/** [[WsTokens.count]] as a codegen'd Catalyst Expression, shipped like
  * [[CollapseBlanks]]: it stays inside WholeStageCodegen — never a UDF.
  */
case class WsTokenCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ws_token_count requires a string input, got ${other.simpleString}")
  }

  override def nullSafeEval(t: Any): Any = WsTokens.count(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wsTokens", WsTokens, WsTokens.getClass.getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $ref.count($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[WsTokens.truncate]] as a codegen'd Catalyst Expression. */
case class TruncateWsTokens(text: Expression, keepLast: Expression, budget: Int)
    extends BinaryExpression {
  require(budget >= 1, s"token budget must be at least 1, got $budget")

  override def left: Expression = text
  override def right: Expression = keepLast
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    (text.dataType, keepLast.dataType) match {
      case (StringType, BooleanType) => TypeCheckResult.TypeCheckSuccess
      case (t, k) => TypeCheckResult.TypeCheckFailure(
        s"truncate_ws_tokens requires (string, boolean), got (${t.simpleString}, ${k.simpleString})")
    }

  override def nullSafeEval(t: Any, last: Any): Any =
    WsTokens.truncate(t.asInstanceOf[UTF8String], last.asInstanceOf[Boolean], budget)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wsTokens", WsTokens, WsTokens.getClass.getName)
    nullSafeCodeGen(ctx, ev, (t, last) => s"${ev.value} = $ref.truncate($t, $last, $budget);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(text = newLeft, keepLast = newRight)
}
