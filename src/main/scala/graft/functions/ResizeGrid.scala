package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType}

/** Native nearest-neighbor grid resample over a binary column treated
  * as a row-major `srcWidth`-byte-wide grid:
  * `resize_grid(content, srcWidth, outW, outH)` → `array<long>` of
  * outW×outH sampled byte values (row-major, unsigned).
  *
  * Index arithmetic is EXACTLY `Multimodal.resizeNearest`'s SQL form —
  * out pixel p = (r, c) samples source byte
  * `(((p div outW)·src_h) div outH)·srcWidth + ((p mod outW)·srcWidth)
  * div outW` with `src_h = length div srcWidth` — but as one codegen
  * loop instead of a 64-element `transform` HOF whose every sample
  * paid a lambda call + `substring` slice + hex→conv string
  * round-trip (the m06 probe measured the grid derivation at ~85% of
  * the query). Callers must keep the `src_h > 0` guard; this
  * expression returns null for content shorter than one source row
  * rather than sampling out of range.
  */
case class ResizeGrid(content: Expression, srcWidth: Expression,
    outW: Expression, outH: Expression) extends QuaternaryExpression {

  override def first: Expression = content
  override def second: Expression = srcWidth
  override def third: Expression = outW
  override def fourth: Expression = outH

  override def checkInputDataTypes(): TypeCheckResult =
    if (content.dataType == BinaryType && srcWidth.dataType == IntegerType &&
        outW.dataType == IntegerType && outH.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "resize_grid expects (binary, int, int, int), got (" +
        Seq(content, srcWidth, outW, outH).map(_.dataType.sql).mkString(", ") + ")")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(c: Any, sw: Any, w: Any, h: Any): Any = {
    val bytes = c.asInstanceOf[Array[Byte]]
    val srcW = sw.asInstanceOf[Int]
    val ow = w.asInstanceOf[Int]
    val oh = h.asInstanceOf[Int]
    // guard srcW BEFORE the division, mirroring the codegen guard
    // `($sw > 0) ? $c.length / $sw : 0` — otherwise the interpreted
    // path (constant folding / codegen fallback) throws on srcW = 0
    // where codegen returns null
    if (srcW <= 0 || ow <= 0 || oh <= 0) return null
    val srcH = bytes.length / srcW
    if (srcH <= 0) return null
    val out = new Array[Long](ow * oh)
    var p = 0
    while (p < out.length) {
      val idx = ((p / ow) * srcH / oh) * srcW + (p % ow) * srcW / ow
      out(p) = (bytes(idx) & 0xff).toLong
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, sw, w, h) => {
      val srcH = ctx.freshName("srcH")
      val out = ctx.freshName("out")
      val p = ctx.freshName("p")
      val idx = ctx.freshName("idx")
      s"""
         |int $srcH = ($sw > 0) ? $c.length / $sw : 0;
         |if ($sw <= 0 || $w <= 0 || $h <= 0 || $srcH <= 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $out = new long[$w * $h];
         |  for (int $p = 0; $p < $out.length; $p++) {
         |    int $idx = (($p / $w) * $srcH / $h) * $sw + ($p % $w) * $sw / $w;
         |    $out[$p] = (long) ($c[$idx] & 0xff);
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(content = newFirst, srcWidth = newSecond, outW = newThird,
      outH = newFourth)
}
