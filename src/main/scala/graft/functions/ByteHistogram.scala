package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** Native Catalyst per-value byte histogram over a binary column:
  * `byte_histogram(content)` → `array<long>` of exactly 256 counts
  * (index = unsigned byte value).
  *
  * Replaces the m07 shape that EXPLODED one row per byte
  * (`explode(sequence(1, octet_length)) + substring + conv(hex)` —
  * a content-length× row fan-out plus two shuffled aggregations) with
  * one in-row pass: the histogram is computed inside whole-stage
  * codegen and downstream statistics (total bytes, distinct values,
  * the integer micro-nat entropy sum) fold the 256-element array
  * in-row, so the whole operator is a zero-exchange map. Counts are
  * identical to the exploded form's group-by counts, which is what
  * keeps m07's DuckDB oracle hash-exact.
  */
case class ByteHistogram(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"byte_histogram expects a binary argument, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val counts = new Array[Long](256)
    var i = 0
    while (i < bytes.length) { counts(bytes(i) & 0xff) += 1L; i += 1 }
    new GenericArrayData(counts)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      s"""
         |long[] $counts = new long[256];
         |for (int $i = 0; $i < $c.length; $i++) {
         |  $counts[$c[$i] & 0xff] += 1L;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($counts);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
