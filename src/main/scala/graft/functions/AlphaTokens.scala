package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native alpha-run tokenizer: `alpha_tokens(text, minLen)` returns
  * the maximal ASCII-letter runs of `text`, lowercased, keeping only
  * runs of at least `minLen` characters — duplicates and order
  * preserved (term-frequency counting needs both).
  *
  * On PRE-LOWERED input, exactly equivalent (the DuckDB oracle keeps
  * the regex spelling, so the hash gate re-proves it per scale) to
  * the t06 pipeline's
  *
  * {{{ regexp_extract_all(lower(text), '[a-z]+', 0)  — then length(tok) >= minLen }}}
  *
  * by the [[CharClassCount]] byte argument: every non-ASCII byte of
  * UTF-8 (lead or continuation, all ≥ 0x80) is outside `[a-z]` and
  * delimits a run exactly like the regex, and lowered text contains
  * no A–Z bytes (continuation/lead bytes never fall in that range).
  * Callers MUST apply `lower()` BEFORE the scan — it cannot fold in
  * here: a handful of non-ASCII letters lowercase INTO ASCII
  * (U+212A KELVIN SIGN → 'k'; U+0130 → 'i' + combining dot), so a
  * raw-byte scan would delimit where the regex pipeline continues a
  * token (r13 review finding; the spec pins the KELVIN case). The
  * in-scan A–Z +32 fold is kept as robustness for un-lowered ASCII,
  * not as a substitute for `lower()`. One byte scan, one short copy
  * per kept token — against the regex engine's per-match machinery
  * over a corpus-linear token stream (the whole-cost observation that
  * motivated the r13 counter expressions; this one must return the
  * tokens themselves, which is why it is not a counter).
  */
case class AlphaTokens(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "alpha_tokens"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"alpha_tokens expects a string column, got ${left.dataType.sql}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        "alpha_tokens expects a literal integer minimum token length")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  private lazy val minLen: Int = right.eval(null).asInstanceOf[Int]

  /** Invoked from both eval and generated code. */
  def tokens(s: UTF8String): GenericArrayData =
    AlphaTokens.tokens(s, minLen)

  override def nullSafeEval(a: Any, b: Any): Any =
    tokens(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("atk", this, classOf[AlphaTokens].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $ref.tokens($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object AlphaTokens {
  private def isAlpha(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')

  def tokens(s: UTF8String, minLen: Int): GenericArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    var i = 0
    var start = -1
    while (i <= n) {
      val a = i < n && isAlpha(bytes(i))
      if (a && start < 0) start = i
      else if (!a && start >= 0) {
        if (i - start >= minLen) {
          val tok = new Array[Byte](i - start)
          var j = start
          while (j < i) {
            val b = bytes(j)
            tok(j - start) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
            j += 1
          }
          out += UTF8String.fromBytes(tok)
        }
        start = -1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
