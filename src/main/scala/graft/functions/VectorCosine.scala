package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst cosine similarity over two array<double> columns:
  * dot(a,b) / (‖a‖·‖b‖), all three accumulators in ONE pass over the
  * arrays inside whole-stage codegen.
  *
  * [[VectorDot]] is the right operator for unit-normalized embeddings
  * (cosine == dot); this one makes the similarity family correct for
  * raw, non-normalized vectors without a separate normalization pass
  * or three array traversals. Returns 0.0 when either vector has zero
  * norm (no direction — conventional for retrieval pipelines).
  */
case class VectorCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vector_cosine expects two array<double> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  // null is also returned for mismatched dimensions (below), not just
  // for null inputs
  override def nullable: Boolean = true

  /** A dimension mismatch returns NULL rather than a truncated-prefix
    * cosine: for a normalized similarity a length mismatch is almost
    * always a data bug, and a plausible-looking score would hide it
    * ([[VectorDot]] keeps its documented truncating convention — its
    * callers zip planes/vectors of equal length by construction).
    */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = $a.getDouble($i);
         |    double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi;
         |    $na += $xi * $xi;
         |    $nb += $yi * $yi;
         |  }
         |  ${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($na * $nb);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
